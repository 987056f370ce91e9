"""Round-12 pins.

1. The size-derived store-rewrite layout (r11 VERDICT #2): the
   corpus-cardinality compact/purge verbs (LSH digests, BM25
   postings+dl, winnow fingerprints, bitmap per-day vocabulary) no
   longer funnel through ``coalesce(1)``.  Each verb is pinned BOTH
   ways: at the default 256 MB target a fixture-scale store still
   lands as one file (every pre-existing file-count pin holds), and
   with a tiny forced target the same verb writes MULTIPLE files while
   the probe/read result stays bit-identical — the result-neutrality
   law that makes the layout free to change.
2. ``store_file_count_for``'s sizing rule itself.
"""

from __future__ import annotations

import os
import re


def _nfiles(d: str) -> int:
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def test_store_file_count_rule(spark, sf_dir):
    """One file per target_file_bytes of the Catalyst estimate, floor 1:
    fixture-scale relations resolve to 1 at the default target, to >1
    under a tiny forced target, and the rule is monotone in size."""
    from big_data_table_spark.functions.store_layout import store_file_count_for

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert store_file_count_for(docs) == 1  # default 256 MB target
    small = store_file_count_for(docs, target_file_bytes=1 << 30)
    big = store_file_count_for(docs, target_file_bytes=1 << 12)
    assert small == 1 and big > 1


def test_lsh_compact_and_purge_multifile_neutral(spark, sf_dir, tmp_path):
    """lsh_index_compact / lsh_index_purge digests rewrite: forcing a
    tiny file target produces a MULTI-file digests store whose probe
    output is bit-identical — the coalesce(1) layout was never load-
    bearing (reads are DISTINCT set joins)."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import dedup as DD

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _r12_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _r12_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3"
    )
    path = str(tmp_path / "lsh12")
    DD.lsh_index_build(spark, path, "_r12_corpus")
    DD.lsh_index_append(spark, path, "_r12_corpus")  # duplicates to compact

    def rows():
        return sorted(
            (r["doc_id"], r["decision"])
            for r in DD.lsh_index_probe(spark, path, "_r12_batch").collect()
        )

    before = rows()
    DD.lsh_index_compact(spark, path, target_file_bytes=1 << 12)
    assert _nfiles(os.path.join(path, "digests")) > 1
    assert rows() == before

    doomed = spark.sql("SELECT doc_id FROM documents WHERE doc_id % 10 = 1")
    DD.lsh_index_delete(doomed, path)
    scrubbed = rows()
    DD.lsh_index_purge(spark, path, target_file_bytes=1 << 12)
    assert _nfiles(os.path.join(path, "digests")) > 1
    assert rows() == scrubbed


def test_bm25_compact_multifile_neutral(spark, sf_dir, tmp_path):
    """bm25_index_compact under a tiny file target: postings/chunk=-1
    and dl/chunk=-1 are multi-file, the top-k is bit-identical (the
    additive merge is the same sum regardless of layout), and the
    term-pruned PushedFilters read survives the tk-sorted layout."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import text as TX
    from big_data_table_spark.plans import formatted_plan

    register_views(spark, sf_dir)
    path = str(tmp_path / "bm2512")
    TX.bm25_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 != 2) _b"
    )
    TX.bm25_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _a", chunk=1
    )

    def rows():
        return sorted(
            (r["doc_id"], r["score"], r["n_terms_hit"])
            for r in TX.bm25_index_topk(spark, path).collect()
        )

    before = rows()
    assert TX.bm25_index_compact(spark, path, target_file_bytes=1 << 12) == 2
    assert _nfiles(os.path.join(path, "postings", "chunk=-1")) > 1
    assert _nfiles(os.path.join(path, "dl", "chunk=-1")) > 1
    assert rows() == before
    lazy = formatted_plan(TX._bm25_store_tf(spark, path))
    assert re.search(r"PushedFilters: \[In\(tk, \[[^\]]*\]", lazy), lazy[:2000]


def test_winnow_compact_multifile_neutral(spark, sf_dir, tmp_path):
    """winnow_index_compact under a tiny file target: the store becomes
    multi-file and every probe column is unchanged."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import text as TX

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _r12_wd AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"
    )
    path = str(tmp_path / "win12")
    TX.winnow_index_build(spark, path, "_r12_wd")
    TX.winnow_index_append(spark, path, "_r12_wd")  # duplicates to compact

    def rows():
        return sorted(
            tuple(r) for r in TX.winnow_index_probe(spark, path, "_r12_wd").collect()
        )

    before = rows()
    n = TX.winnow_index_compact(spark, path, target_file_bytes=1 << 12)
    assert n > 1 and _nfiles(path) == n
    assert rows() == before
    # and the default target still lands one file at fixture scale
    assert TX.winnow_index_compact(spark, path) == 1


def test_bitmap_compact_purge_multifile_neutral(spark, tmp_path):
    """bitmap_rollup_compact / purge under a tiny file target: the
    per-day chunk=-1 partition is multi-file, the daily range read is
    bit-identical (BIT_OR is associative over any file layout)."""
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import bitmap_store as B

    ev = spark.createDataFrame(
        [(i % 700, "2024-01-05 10:00:00") for i in range(4000)],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    path = str(tmp_path / "bm12")
    B.bitmap_rollup_build(ev, path)
    B.bitmap_rollup_append_chunk(ev, path, 1)

    def rows():
        return sorted(
            tuple(r)
            for r in B.bitmap_rollup_range_daily(
                spark, path, "2024-01-01", "2024-01-31"
            ).collect()
        )

    before = rows()
    B.bitmap_rollup_compact(spark, path, "2024-01-05", target_file_bytes=1 << 10)
    assert _nfiles(os.path.join(path, "day=2024-01-05", "chunk=-1")) > 1
    assert rows() == before

    doomed = spark.createDataFrame([(i,) for i in range(0, 700, 7)], "user_id long")
    B.bitmap_rollup_delete(doomed, path)
    scrubbed = sorted(
        tuple(r)
        for r in B.bitmap_rollup_range_daily_scrubbed(
            spark, path, "2024-01-01", "2024-01-31"
        ).collect()
    )
    B.bitmap_rollup_purge(spark, path, target_file_bytes=1 << 10)
    assert _nfiles(os.path.join(path, "day=2024-01-05", "chunk=-1")) > 1
    assert rows() == scrubbed


def test_ivf_requantize_laws(spark, sf_dir, tmp_path):
    """IVF store retrain laws (the semantic requantize pin set applied
    to the ANN family): (1) deleting unseen ids is a no-op and a
    replayed delete absorbs; (2) deletion takes effect at READ time
    (the ivf_load scrub) before any requantize; (3) requantize ==
    REBUILD over the survivors — bit-identical centroids AND search;
    (4) a replayed requantize is a no-op; (5) the tombstone table is
    cleared (the purge rides along)."""
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.sources.readers import Tables

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    path = str(tmp_path / "ivf12")
    C.ivf_build(vecs.filter("vec_id % 3 != 2"), path, k=8, n_iter=2)
    C.ivf_append(spark, path, vecs.filter("vec_id % 3 = 2"))
    q = vecs.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )

    def rows():
        return sorted(
            tuple(r)
            for r in C.ann_ivf_persisted_search(spark, path, q).collect()
        )

    base = rows()
    assert base
    # replayed append: the probe's same-window LAG dedupe absorbs the
    # duplicated inverted rows — top-k unchanged, no duplicate
    # neighbor occupying two rank slots
    C.ivf_append(spark, path, vecs.filter("vec_id % 3 = 2"))
    assert rows() == base
    # (1) ghost delete is a no-op
    ghost = spark.range(10**9, 10**9 + 5).selectExpr("id AS vec_id")
    C.ivf_delete(ghost, path)
    assert rows() == base
    # (2) real deletes scrub the search immediately, pre-requantize
    doomed = vecs.filter("vec_id % 5 = 3").select("vec_id")
    C.ivf_delete(doomed, path)
    C.ivf_delete(doomed, path)  # replay absorbs
    scrubbed = rows()
    assert scrubbed != base
    gone = {r.vec_id for r in doomed.collect()}
    assert not any(t[1] in gone for t in scrubbed)
    # (3) requantize == rebuild over survivors
    C.ivf_requantize(spark, path, k=8, n_iter=2)
    after = rows()
    ref_path = str(tmp_path / "ivf12_ref")
    C.ivf_build(vecs.filter("vec_id % 5 != 3"), ref_path, k=8, n_iter=2)
    ref = sorted(
        tuple(r)
        for r in C.ann_ivf_persisted_search(spark, ref_path, q).collect()
    )
    assert after == ref
    cents = sorted(
        (r.cid, tuple(r.c))
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    ref_cents = sorted(
        (r.cid, tuple(r.c))
        for r in spark.read.parquet(os.path.join(ref_path, "centroids")).collect()
    )
    assert cents == ref_cents
    # (5) tombstones cleared
    assert not os.path.isdir(os.path.join(path, C._IVF_TOMBSTONE_DIR))
    # (4) replayed requantize is a no-op
    C.ivf_requantize(spark, path, k=8, n_iter=2)
    assert rows() == after
    # size-derived k: the default arm derives k from the store via the
    # shared rule; Lloyd may empty cells, so the surviving centroid
    # count is bounded by (and here close to) the derived k
    from big_data_table_spark.functions.similarity import sem_n_centroids_for

    n = spark.read.parquet(os.path.join(path, "inverted")).count()
    got = C.ivf_requantize(spark, path)
    assert 0 < got <= sem_n_centroids_for(n)


def test_pq_requantize_laws(spark, sf_dir, tmp_path):
    """PQ store retrain laws: the re-encode over the current source
    leaves the store serving bit-identically to a fresh build over the
    same source (stale build leaves NO residue), and a replayed
    requantize is a no-op.  The verb takes the source subvectors
    explicitly because the codes table is lossy."""
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.sources.readers import Tables

    n_subs, sub_len, n_codes = 8, 8, 16
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

    survivors = to_subs(vecs.filter("vec_id % 7 != 3"))
    path = str(tmp_path / "pq12")
    C.pq_build(to_subs(vecs.filter("vec_id % 4 != 3")), path, k=n_codes, n_iter=2)
    assert C.pq_requantize(spark, path, survivors, k=n_codes, n_iter=2) > 0
    ref_path = str(tmp_path / "pq12_ref")
    C.pq_build(survivors, ref_path, k=n_codes, n_iter=2)

    def store(p):
        cb = sorted(
            (r.s, r.cid, tuple(r.c))
            for r in spark.read.parquet(os.path.join(p, "codebook")).collect()
        )
        codes = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(p, "codes")).collect()
        )
        return cb, codes

    assert store(path) == store(ref_path)
    qsubs = survivors.filter("vec_id >= 16 AND vec_id < 21").select(
        F.col("vec_id").alias("qid"), "s", F.col("e").alias("qe")
    )
    out = sorted(
        tuple(r) for r in C.ann_pq_persisted_search(spark, path, qsubs).collect()
    )
    ref_out = sorted(
        tuple(r)
        for r in C.ann_pq_persisted_search(spark, ref_path, qsubs).collect()
    )
    assert out == ref_out and out
    # replayed requantize is a no-op
    C.pq_requantize(spark, path, survivors, k=n_codes, n_iter=2)
    assert store(path) == store(ref_path)


def test_chunk_expire_laws(spark, sf_dir, tmp_path):
    """Chunk-dimension retention laws: (1) post-expiry read == rebuild
    over the retained batches; (2) replayed and lower-cutoff expires
    are no-ops (monotone marker, dirs gone); (3) the appender guard
    REJECTS a late replay of a forgotten batch id — global and
    day-scoped markers both enforced for multi-day appenders; (4)
    chunk expiry after compaction refuses (the merged chunk=-1 cannot
    be dropped at chunk granularity)."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import store_layout as SL
    from big_data_table_spark.sources.readers import load_events

    lo, hi = "2024-01-08", "2024-01-21"
    ev = load_events(spark, sf_dir).filter(
        F.to_date("ts").cast("string").between(lo, hi)
    )
    path = str(tmp_path / "mgcr")
    for b in range(3):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == b), path, batch_id=b
        )
    dropped = MG.chunk_expire(path, before_chunk=1)
    assert dropped and all(d.endswith("chunk=0") for d in dropped)
    # (2) replay + lower cutoff: no-ops
    assert MG.chunk_expire(path, before_chunk=1) == []
    assert MG.chunk_expire(path, before_chunk=0) == []
    assert SL._read_chunk_retention(path) == 1

    def rows(p):
        return sorted(
            tuple(r)
            for r in MG.mg_rollup_grouped_chunked_range_topk(
                spark, p, lo, hi
            ).collect()
        )

    # (1) rebuild equivalence over retained batches
    ref_path = str(tmp_path / "mgcr_ref")
    for b in (1, 2):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == b), ref_path, batch_id=b
        )
    assert rows(path) == rows(ref_path)
    # (3) a late replay of the forgotten batch raises — not resurrects
    with pytest.raises(ValueError, match="retention cutoff"):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == 0), path, batch_id=0
        )
    assert rows(path) == rows(ref_path)
    # day-scoped marker blocks the multi-day appender too
    day_path = str(tmp_path / "mgcr_day")
    for b in range(2):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == b), day_path, batch_id=b
        )
    MG.chunk_expire(day_path, before_chunk=1, day=lo)
    assert SL._read_chunk_retention(day_path, scope=lo) == 1
    assert SL._read_chunk_retention(day_path) is None
    with pytest.raises(ValueError, match="retention cutoff"):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == 0),
            day_path,
            batch_id=0,
        )
    # (4) after compaction, chunk-granular retention refuses
    comp_path = str(tmp_path / "mgcr_comp")
    for b in range(2):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 3 == b), comp_path, batch_id=b
        )
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(comp_path)
        if d.startswith("day=")
    )
    MG.mg_rollup_grouped_compact(spark, comp_path, days[0])
    with pytest.raises(ValueError, match="compaction watermark"):
        MG.chunk_expire(comp_path, before_chunk=1)


def test_ivfpq_requantize_laws(spark, sf_dir, tmp_path):
    """Residual IVF-PQ retrain laws: requantize(vecs) leaves all three
    sub-stores bit-identical to ivfpq_build(vecs) (shared computation),
    a replayed requantize is a no-op, and the search serves identically
    — the stale initial build leaves no residue."""
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.sources.readers import Tables

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    survivors = vecs.filter("vec_id % 7 != 3")
    path = str(tmp_path / "ivfpq12")
    C.ivfpq_build(vecs.filter("vec_id % 4 != 3"), path)
    assert C.ivfpq_requantize(spark, path, survivors) > 0
    ref_path = str(tmp_path / "ivfpq12_ref")
    C.ivfpq_build(survivors, ref_path)

    def store(p):
        return tuple(
            sorted(
                tuple(
                    tuple(v) if isinstance(v, list) else v for v in r
                )
                for r in spark.read.parquet(os.path.join(p, sub)).collect()
            )
            for sub in ("centroids", "codebook", "codes")
        )

    assert store(path) == store(ref_path)
    q = survivors.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe0")
    )
    out = sorted(
        tuple(r) for r in C.ann_ivfpq_persisted_search(spark, path, q).collect()
    )
    ref_out = sorted(
        tuple(r)
        for r in C.ann_ivfpq_persisted_search(spark, ref_path, q).collect()
    )
    assert out == ref_out and out
    # replayed requantize is a no-op
    C.ivfpq_requantize(spark, path, survivors)
    assert store(path) == store(ref_path)


def test_cms_chunk_expire_additive_guard(spark, sf_dir, tmp_path):
    """Chunk retention on the ADDITIVE class: (1) post-expiry range
    estimates == a fresh store built from the retained batches only
    (exact counter addition); (2) the appender guard REJECTS a replay
    of the forgotten batch id — in this class the guard has teeth: the
    replayed counters would silently DOUBLE every retained estimate
    (dynamic-partition overwrite absorbs same-id replays only while
    the partition still exists)."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.sources.readers import load_events

    lo, hi = "2024-01-10", "2024-01-11"
    day_col = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    ev = load_events(spark, sf_dir).filter(day_col.between(lo, hi))
    keys = (
        ev.select(F.col("user_id").cast("long").alias("v")).distinct().limit(10)
    ).localCheckpoint(eager=True)

    def build(p, batches):
        for d in [lo, hi]:
            ev_day = ev.filter(day_col == d)
            for b in batches:
                SK.cms_rollup_append_chunk(
                    ev_day.filter(F.col("user_id").cast("long") % 3 == b),
                    p,
                    d,
                    b,
                )

    def est(p):
        return sorted(
            tuple(r)
            for r in SK.cms_rollup_range_estimates(spark, p, lo, hi, keys).collect()
        )

    path = str(tmp_path / "cmscr")
    build(path, [0, 1, 2])
    MG.chunk_expire(path, before_chunk=1)
    ref_path = str(tmp_path / "cmscr_ref")
    build(ref_path, [1, 2])
    assert est(path) == est(ref_path)
    # the forgotten batch cannot come back — raises, estimates stable
    with pytest.raises(ValueError, match="retention cutoff"):
        SK.cms_rollup_append_chunk(
            ev.filter(day_col == lo).filter(
                F.col("user_id").cast("long") % 3 == 0
            ),
            path,
            lo,
            0,
        )
    assert est(path) == est(ref_path)


def test_marker_monotone_under_concurrent_writers(tmp_path):
    """The O_EXCL-locked marker writer (r11 ADVICE, hardened r12):
    64 interleaved writers racing shuffled values leave the marker at
    the MAX, and a concurrent reader never observes a regression —
    the exact interleave the unlocked read-check-replace allowed.
    A leaked lock (crashed holder) raises naming the file instead of
    silently stealing."""
    import random
    import threading

    import pytest

    from big_data_table_spark.functions import store_layout as SL

    store = str(tmp_path / "mstore")
    vals = list(range(64))
    random.Random(7).shuffle(vals)
    seen: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            v = SL._read_int_marker(store, "m")
            if v is not None:
                seen.append(v)

    rt = threading.Thread(target=reader)
    rt.start()
    try:
        threads = [
            threading.Thread(
                target=SL._write_int_marker_monotone, args=(store, "m", v)
            )
            for v in vals
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        stop.set()
        rt.join()
    assert SL._read_int_marker(store, "m") == 63
    assert seen == sorted(seen), "reader observed a monotonicity regression"
    assert not os.path.exists(os.path.join(store, ".m.lock"))

    # leaked lock (simulated crash between acquire and release): the
    # next writer raises naming the lock rather than stealing it
    lock = os.path.join(store, ".m.lock")
    open(lock, "w").close()
    old = SL._MARKER_LOCK_WAIT_SEC
    SL._MARKER_LOCK_WAIT_SEC = 0.2
    try:
        with pytest.raises(RuntimeError, match=re.escape(lock)):
            SL._write_int_marker_monotone(store, "m", 99)
    finally:
        SL._MARKER_LOCK_WAIT_SEC = old
        os.unlink(lock)
    assert SL._read_int_marker(store, "m") == 63


def test_store_root_swap_carries_markers(spark, sf_dir, tmp_path):
    """``_swap_store_root`` (r12): the multi-sub-store requantize swap
    carries root-level marker FILES across (markers survive every verb
    except build), leaves side-table DIRECTORIES behind (tombstones
    were folded into the rewrite), and cleans up its staged sibling
    root."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import store_layout as SL
    from big_data_table_spark.functions import similarity as S

    register_views(spark, sf_dir)
    sp = str(tmp_path / "semroot")
    S.semantic_index_build(
        spark, sp, "(SELECT * FROM embeddings WHERE vec_id % 2 = 0) _b0"
    )
    doomed = spark.sql("SELECT vec_id FROM embeddings WHERE vec_id % 10 = 4")
    S.semantic_index_delete(doomed, sp)
    S.semantic_index_expire(sp, 7)
    assert SL._read_int_marker(sp, S._SEM_RETENTION_FILE) == 7
    S.semantic_index_requantize(spark, sp, n_centroids=8)
    # marker survived the whole-root swap; tombstones did not
    assert SL._read_int_marker(sp, S._SEM_RETENTION_FILE) == 7
    assert not os.path.isdir(os.path.join(sp, S._SEM_TOMBSTONE_DIR))
    # the staged sibling root is gone (swap consumed it)
    head, tail = os.path.split(sp)
    assert not os.path.exists(os.path.join(head, f".{tail}.requant.tmp"))
    assert not os.path.exists(os.path.join(head, f".{tail}.compact.old"))
    # and the cutoff still has teeth after the swap: a later expire
    # below the carried marker stays a no-op (monotone)
    S.semantic_index_expire(sp, 3)
    assert SL._read_int_marker(sp, S._SEM_RETENTION_FILE) == 7


def test_ivf_expire_laws(spark, sf_dir, tmp_path):
    """IVF store retention laws (ivf_expire — the O(1) metadata verb
    the other index families already have): (1) expiry takes effect at
    READ time under the frozen quantizer; (2) a replayed expire and a
    lower cutoff are no-ops (marker monotone); (3) expiry composes
    with tombstones; (4) the next requantize physically reclaims
    expired rows AND carries the marker across its whole-root swap."""
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.functions import store_layout as SL
    from big_data_table_spark.sources.readers import Tables

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    path = str(tmp_path / "ivfexp")
    C.ivf_build(vecs, path, k=8, n_iter=2)
    q = vecs.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )

    def rows():
        return sorted(
            tuple(r)
            for r in C.ann_ivf_persisted_search(spark, path, q).collect()
        )

    base = rows()
    cut = vecs.agg(
        F.floor((F.max("vec_id") + 1) / 4).cast("long").alias("c")
    ).collect()[0]["c"]
    # (1) read-time effect: expired ids vanish from the top-k
    C.ivf_expire(path, cut)
    expired = rows()
    assert expired != base
    assert not any(t[1] < cut for t in expired)
    # (2) replay + lower cutoff are no-ops
    C.ivf_expire(path, cut)
    C.ivf_expire(path, cut // 2)
    assert rows() == expired
    assert SL._read_int_marker(path, C._IVF_RETENTION_FILE) == cut
    # (3) composes with tombstones
    doomed = vecs.filter(f"vec_id >= {cut} AND vec_id % 7 = 5").select("vec_id")
    C.ivf_delete(doomed, path)
    composed = rows()
    gone = {r.vec_id for r in doomed.collect()}
    assert not any(t[1] in gone or t[1] < cut for t in composed)
    # (4) requantize reclaims physically and the marker survives
    C.ivf_requantize(spark, path, k=8, n_iter=2)
    inv = spark.read.parquet(os.path.join(path, "inverted"))
    assert inv.where(f"vec_id < {cut}").count() == 0
    assert SL._read_int_marker(path, C._IVF_RETENTION_FILE) == cut
    # requantize == rebuild over the retained survivors
    ref_path = str(tmp_path / "ivfexp_ref")
    C.ivf_build(
        vecs.filter(f"vec_id >= {cut} AND NOT (vec_id % 7 = 5)"),
        ref_path,
        k=8,
        n_iter=2,
    )
    assert rows() == sorted(
        tuple(r)
        for r in C.ann_ivf_persisted_search(spark, ref_path, q).collect()
    )


def test_chunk_expire_marker_before_removal(spark, sf_dir, tmp_path, monkeypatch):
    """Crash ordering (r12 review): chunk_expire persists the retention
    marker BEFORE removing chunk dirs, so a crash mid-verb leaves the
    guard armed (replay still raises; re-run completes the drop) —
    never the reverse window where dirs are gone but a replay could
    resurrect the forgotten batch."""
    import shutil as _shutil

    import pytest
    from pyspark.sql import functions as F

    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import store_layout as SL
    from big_data_table_spark.sources.readers import load_events

    ev = load_events(spark, sf_dir).filter(
        F.to_date("ts").cast("string") == "2024-01-10"
    )
    path = str(tmp_path / "crashmg")
    for b in range(2):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 2 == b),
            path,
            batch_id=b,
            cap=16,
        )

    real_rmtree = _shutil.rmtree
    def exploding_rmtree(p, **kw):
        raise OSError("simulated crash mid-expire")

    monkeypatch.setattr(MG.shutil if hasattr(MG, "shutil") else _shutil, "rmtree", exploding_rmtree)
    try:
        with pytest.raises(OSError, match="simulated crash"):
            MG.chunk_expire(path, before_chunk=1)
    finally:
        monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    # the marker landed BEFORE the (crashed) removal...
    assert SL._read_chunk_retention(path) == 1
    # ...so the replay of the forgotten batch already raises
    with pytest.raises(ValueError, match="retention cutoff"):
        MG.mg_rollup_grouped_append_batch(
            ev.filter(F.col("user_id").cast("long") % 2 == 0),
            path,
            batch_id=0,
            cap=16,
        )
    # and re-running the verb completes the drop (marker write no-op)
    dropped = MG.chunk_expire(path, before_chunk=1)
    assert dropped, "re-run should remove the surviving chunk=0 dirs"
