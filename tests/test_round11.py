"""Round-11 pins.

LSH-index tombstone deletion laws (the fifth and final doc-id-bearing
store family to gain right-to-be-forgotten; the r11 ownership-row
layout made it possible — r10 VERDICT #2).
"""

from __future__ import annotations

import os


def test_lsh_index_tombstone_purge_laws(spark, sf_dir, tmp_path):
    """Tombstone laws for the MinHash-LSH dedup index (r11 ownership-row
    layout): (1) deleting unseen doc_ids is a no-op; (2) a replayed
    delete is absorbed (SET class); (3) a key co-owned by a SURVIVING
    doc outlives the delete — the semantics the keys-only layout could
    not express; (4) the PHYSICAL purge is result-neutral —
    scrubbed-before == scrubbed-after == PLAIN-after — and drops the
    tombstone table and the deleted docs' ownership rows from disk."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import dedup as DD

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _l11_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _l11_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3 "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 7 = 0"
    )
    path = str(tmp_path / "lshdel")
    DD.lsh_index_build(spark, path, "_l11_corpus")

    def rows():
        return sorted(
            (r["doc_id"], r["decision"])
            for r in DD.lsh_index_probe(spark, path, "_l11_batch").collect()
        )

    plain_before = rows()
    assert len(plain_before) > 0
    # (1) unseen ids are a no-op
    ghost = spark.range(10**9, 10**9 + 20).selectExpr("id AS doc_id")
    DD.lsh_index_delete(ghost, path)
    assert rows() == plain_before
    # (2) replayed delete absorbs
    doomed = spark.sql(
        "SELECT doc_id FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 5 = 1"
    )
    DD.lsh_index_delete(doomed, path)
    once = rows()
    DD.lsh_index_delete(doomed, path)
    assert rows() == once
    assert once != plain_before  # the delete actually flipped decisions
    # (3) shared keys survive: a recrawl (1000000+k, k%7==0) of a
    # SURVIVING corpus doc must still adjudicate exact_vs_corpus —
    # the digest key stays alive through its surviving owner
    survived_exact = [
        d
        for d, dec in once
        if d >= 1000000
        and (d - 1000000) % 4 != 3
        and (d - 1000000) % 5 != 1
        and dec == "exact_vs_corpus"
    ]
    assert survived_exact, "surviving-owner keys must outlive the delete"
    # and at least one deleted-source recrawl flipped away from exact
    flipped = {
        d: dec
        for d, dec in once
        if d >= 1000000 and (d - 1000000) % 4 != 3 and (d - 1000000) % 5 == 1
    }
    assert flipped and all(dec != "exact_vs_corpus" for dec in flipped.values())
    # (4) purge: result-neutral, tombstones gone, ownership rows gone
    n = DD.lsh_index_purge(spark, path)
    assert n > 0
    assert not os.path.isdir(os.path.join(path, DD._LSH_TOMBSTONE_DIR))
    assert rows() == once
    for sub in ("digests", "bands"):
        surviving = spark.read.parquet(os.path.join(path, sub)).where(
            "doc_id % 5 = 1 AND doc_id % 4 <> 3"
        )
        assert surviving.count() == 0


def test_semantic_requantize_laws(spark, sf_dir, tmp_path):
    """Laws of the re-quantize compact (r10 VERDICT #3 — the pin is
    NOT bit-equality with the pre-requantize store, whose cells move by
    design): (1) requantize == REBUILD-over-survivors under the same
    quantizer rule — both deterministic functions of the surviving
    vector set; (2) a REPLAYED requantize is a no-op; (3) tombstoned
    vectors are dropped and the tombstone table cleared (the purge
    rides along); (4) the TRAINED (Lloyd) arm is deterministic too —
    two runs from the same store agree."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import similarity as S

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _rq_a AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 != 2"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _rq_b AS "
        "SELECT * FROM embeddings WHERE vec_id % 3 = 2"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _rq_survivors AS "
        "SELECT * FROM embeddings WHERE vec_id % 5 != 1"
    )

    def store_rows(path):
        import os

        return sorted(
            (r["vec_id"], r["cid"]) for r in
            spark.read.parquet(os.path.join(path, "rows")).distinct().collect()
        )

    # evolved store: build + append + tombstone delete, then requantize
    p1 = str(tmp_path / "rq_evolved")
    S.semantic_index_build(spark, p1, "_rq_a")
    S.semantic_index_append(spark, p1, "_rq_b")
    doomed = spark.sql("SELECT vec_id FROM embeddings WHERE vec_id % 5 = 1")
    S.semantic_index_delete(doomed, p1)
    k1 = S.semantic_index_requantize(spark, p1)
    after = store_rows(p1)
    # (3) deleted vectors are gone; tombstones cleared
    import os

    assert not any(v % 5 == 1 for v, _ in after)
    assert not os.path.isdir(os.path.join(p1, S._SEM_TOMBSTONE_DIR))
    # (1) == rebuild-over-survivors, requantized under the same rule
    p2 = str(tmp_path / "rq_fresh")
    S.semantic_index_build(spark, p2, "_rq_survivors")
    k2 = S.semantic_index_requantize(spark, p2)
    assert k1 == k2
    assert after == store_rows(p2)
    # the size-derived k actually widened past the fixture constant
    assert k1 > S._SEM_N_CENTROIDS
    # (2) replayed requantize is a no-op
    assert S.semantic_index_requantize(spark, p1) == k1
    assert store_rows(p1) == after
    # (4) trained arm: deterministic (Lloyd from deterministic init)
    kt1 = S.semantic_index_requantize(spark, p1, n_centroids=8, trained=True)
    t1 = store_rows(p1)
    kt2 = S.semantic_index_requantize(spark, p2, n_centroids=8, trained=True)
    assert kt1 == kt2 and t1 == store_rows(p2)


def test_bm25_compaction_watermark_guard(spark, sf_dir, tmp_path):
    """r10 ADVICE: after compaction collapses postings/dl into the
    reserved chunk=-1, a pre-compaction chunk id names a now-EMPTY
    partition while the merged copy of its counts lives on — an append
    re-using it would silently double-count tf/dl.  The compactor now
    persists a MONOTONE watermark (max chunk id merged) and appends at
    or below it fail loudly; fresh ids above it still work and the
    additive read stays exact."""
    import pytest

    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import text as TX

    register_views(spark, sf_dir)
    path = str(tmp_path / "bm25wm")
    TX.bm25_index_build(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 0) _a"
    )
    TX.bm25_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 1) _b", chunk=1
    )
    before = [(r["doc_id"], r["score"]) for r in TX.bm25_index_topk(spark, path).collect()]
    assert TX.bm25_index_compact(spark, path) == 2
    # merged ids are rejected at AND below the watermark
    for doomed in (0, 1):
        with pytest.raises(ValueError, match="watermark"):
            TX.bm25_index_append(spark, path, "documents", chunk=doomed)
    # compaction was result-neutral and a FRESH id still appends
    assert [
        (r["doc_id"], r["score"]) for r in TX.bm25_index_topk(spark, path).collect()
    ] == before
    TX.bm25_index_append(
        spark, path, "(SELECT * FROM documents WHERE doc_id % 3 = 2) _c", chunk=2
    )
    after = TX.bm25_index_topk(spark, path)
    assert after.count() > 0
    # a replayed compact must never LOWER the guard (monotone law)
    from big_data_table_spark.functions.store_layout import (
        _read_compact_watermark,
        _write_compact_watermark,
    )

    assert _read_compact_watermark(path) == 1
    _write_compact_watermark(path, 0)
    assert _read_compact_watermark(path) == 1


def test_setjoin_expire_laws(spark, sf_dir, tmp_path):
    """Retention laws for the set-similarity index: (1) expiry is
    metadata-only — store files untouched, results re-derive; (2) the
    marker is MONOTONE (a lower cutoff is a no-op); (3) COMPACT after
    expiry is result-neutral AND physically reclaims the expired rows;
    (4) retention composes with tombstones (the scrubbed read honours
    both)."""
    import os

    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import dedup as DD

    register_views(spark, sf_dir)
    path = str(tmp_path / "sjexp")
    DD.setjoin_index_build(spark, path, "documents")

    def rows(df):
        return sorted(
            (r["doc_a"], r["doc_b"], r["i"], r["n_a"], r["n_b"])
            for r in df.collect()
        )

    plain = rows(DD.setjoin_index_pairs(spark, path))
    cut = spark.sql(
        "SELECT CAST(FLOOR((MAX(doc_id) + 1) / 4.0) AS BIGINT) AS c "
        "FROM documents"
    ).collect()[0]["c"]
    n_files_before = sum(len(fs) for _, _, fs in os.walk(os.path.join(path, "shingles")))
    DD.setjoin_index_expire(path, cut)
    # (1) metadata-only: no store file was rewritten
    assert (
        sum(len(fs) for _, _, fs in os.walk(os.path.join(path, "shingles")))
        == n_files_before
    )
    expired = rows(DD.setjoin_index_pairs(spark, path))
    assert expired != plain
    assert all(a >= cut and b >= cut for a, b, *_ in expired)
    # (2) monotone: a lower cutoff cannot resurrect expired docs
    DD.setjoin_index_expire(path, cut // 2)
    assert rows(DD.setjoin_index_pairs(spark, path)) == expired
    # (3) compact physically reclaims, result-neutral
    DD.setjoin_index_compact(spark, path)
    assert rows(DD.setjoin_index_pairs(spark, path)) == expired
    left = spark.read.parquet(os.path.join(path, "shingles")).where(
        f"doc_id < {cut}"
    )
    assert left.count() == 0
    # (4) composes with tombstones
    doomed = spark.sql(f"SELECT doc_id FROM documents WHERE doc_id % 5 = 1")
    DD.setjoin_index_delete(doomed, path)
    scrubbed = rows(DD.setjoin_index_pairs_scrubbed(spark, path))
    assert all(
        a >= cut and b >= cut and a % 5 != 1 and b % 5 != 1
        for a, b, *_ in scrubbed
    )


def test_bm25_expire_laws(spark, sf_dir, tmp_path):
    """Retention laws for the BM25 index: (1) expiry is metadata-only
    and the whole statistic chain (tf, dl, N, avgdl, idf) re-derives
    over the retained corpus; (2) the marker is monotone; (3) COMPACT
    after expiry is result-neutral and physically reclaims."""
    import os

    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import text as TX

    register_views(spark, sf_dir)
    path = str(tmp_path / "bm25exp")
    TX.bm25_index_build(spark, path, "documents")

    def rows():
        return [
            (r["doc_id"], r["score"])
            for r in TX.bm25_index_topk(spark, path).collect()
        ]

    plain = rows()
    cut = spark.sql(
        "SELECT CAST(FLOOR((MAX(doc_id) + 1) / 4.0) AS BIGINT) AS c "
        "FROM documents"
    ).collect()[0]["c"]
    TX.bm25_index_expire(path, cut)
    expired = rows()
    assert expired != plain
    assert all(d >= cut for d, _ in expired)
    # (2) monotone no-op
    TX.bm25_index_expire(path, cut // 2)
    assert rows() == expired
    # (3) compact: result-neutral + physical reclaim
    assert TX.bm25_index_compact(spark, path) == 2
    assert rows() == expired
    for sub in ("postings", "dl"):
        assert (
            spark.read.parquet(os.path.join(path, sub))
            .where(f"doc_id < {cut}")
            .count()
            == 0
        )


def test_lsh_and_semantic_expire_laws(spark, sf_dir, tmp_path):
    """Retention laws for the LSH and semantic indexes (the r11
    ownership-row layout made both possible): (1) the marker is
    monotone; (2) LSH compact after expiry is result-neutral and
    physically reclaims expired ownership rows; (3) semantic
    re-quantize after expiry rebuilds rows/ over the retained vectors
    only; (4) expiry composes with tombstones."""
    import os

    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import dedup as DD
    from big_data_table_spark.functions import similarity as S

    register_views(spark, sf_dir)
    # --- LSH arm ---
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _xl_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _xl_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3"
    )
    lp = str(tmp_path / "lshx")
    DD.lsh_index_build(spark, lp, "_xl_corpus")

    def ldec():
        return sorted(
            (r["doc_id"], r["decision"])
            for r in DD.lsh_index_probe(spark, lp, "_xl_batch").collect()
        )

    plain = ldec()
    cut = spark.sql(
        "SELECT CAST(FLOOR((MAX(doc_id) + 1) / 4.0) AS BIGINT) AS c "
        "FROM documents"
    ).collect()[0]["c"]
    DD.lsh_index_expire(lp, cut)
    expired = ldec()
    assert expired != plain
    DD.lsh_index_expire(lp, cut // 2)  # (1) monotone no-op
    assert ldec() == expired
    DD.lsh_index_compact(spark, lp)  # (2) result-neutral + reclaim
    assert ldec() == expired
    assert (
        spark.read.parquet(os.path.join(lp, "digests"))
        .where(f"doc_id < {cut}")
        .count()
        == 0
    )
    # (4) composes with tombstones: retention + delete together equal
    # the rebuild over docs that are retained AND not deleted
    doomed = spark.sql(
        "SELECT doc_id FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 5 = 1"
    )
    DD.lsh_index_delete(doomed, lp)
    composed = ldec()
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _xl_corpus2 AS "
        f"SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3 "
        f"AND doc_id >= {cut} AND doc_id % 5 <> 1"
    )
    lp2 = str(tmp_path / "lshx2")
    DD.lsh_index_build(spark, lp2, "_xl_corpus2")
    rebuilt = sorted(
        (r["doc_id"], r["decision"])
        for r in DD.lsh_index_probe(spark, lp2, "_xl_batch").collect()
    )
    assert composed == rebuilt
    # --- semantic arm ---
    sp = str(tmp_path / "semx")
    S.semantic_index_build(
        spark, sp, "(SELECT * FROM embeddings WHERE vec_id % 3 = 0) _b0"
    )
    S.semantic_index_append(
        spark, sp, "(SELECT * FROM embeddings WHERE vec_id % 3 = 1) _b1"
    )
    vcut = spark.sql(
        "SELECT CAST(FLOOR((MAX(vec_id) + 1) / 4.0) AS BIGINT) AS c "
        "FROM embeddings"
    ).collect()[0]["c"]
    S.semantic_index_expire(sp, vcut)
    # (3) re-quantize rewrites rows/ over retained vectors only
    S.semantic_index_requantize(spark, sp, n_centroids=8)
    kept = spark.read.parquet(os.path.join(sp, "rows"))
    assert kept.where(f"vec_id < {vcut}").count() == 0
    assert kept.count() > 0


def test_bm25_tombstone_purge_laws(spark, sf_dir, tmp_path):
    """Tombstone laws for the BM25 index: (1) deleting unseen doc_ids
    is a no-op; (2) a replayed delete absorbs (SET class); (3) the
    scrubbed top-k re-derives EVERY corpus statistic — scores change,
    not just membership; (4) COMPACT after deletion is result-neutral,
    physically drops the deleted docs' postings/dl rows, and clears
    the tombstone table."""
    import os

    import pytest

    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import text as TX

    register_views(spark, sf_dir)
    path = str(tmp_path / "bm25del")
    TX.bm25_index_build(spark, path, "documents")

    def rows():
        return [
            (r["doc_id"], r["score"])
            for r in TX.bm25_index_topk(spark, path).collect()
        ]

    plain = rows()
    # (1) unseen ids are a no-op
    ghost = spark.range(10**9, 10**9 + 20).selectExpr("id AS doc_id")
    TX.bm25_index_delete(ghost, path)
    assert rows() == plain
    # (2) replayed delete absorbs
    doomed = spark.sql("SELECT doc_id FROM documents WHERE doc_id % 5 = 1")
    TX.bm25_index_delete(doomed, path)
    once = rows()
    TX.bm25_index_delete(doomed, path)
    assert rows() == once
    assert once != plain
    # (3) surviving docs' SCORES changed too (idf/avgdl re-derived),
    # not merely the deleted docs filtered out of the old ranking
    survivors_old = {d: s for d, s in plain if d % 5 != 1}
    survivors_new = dict(once)
    changed = [d for d in survivors_new if d in survivors_old
               and survivors_new[d] != survivors_old[d]]
    assert changed, "deletion must re-derive scores, not post-filter"
    # (4) compact: result-neutral, physical reclaim, tombstones gone
    assert TX.bm25_index_compact(spark, path) == 2
    assert rows() == once
    assert not os.path.isdir(os.path.join(path, TX._BM25_TOMBSTONE_DIR))
    for sub in ("postings", "dl"):
        assert (
            spark.read.parquet(os.path.join(path, sub))
            .where("doc_id % 5 = 1")
            .count()
            == 0
        )


def test_mg_cms_compaction_watermark_guard(spark, sf_dir, tmp_path):
    """The BM25 compaction-watermark guard generalized to the other
    vulnerable chunked stores (r11 review): MG (a replayed merged slice
    cannot be DISTINCT-absorbed — its merged copy carries different
    thr/ube) and CMS (additive — a re-used id would re-add merged
    counters).  Per-DAY scope: day A's compaction must not block day
    B's appends; multi-day batch appenders check the max across days.
    Bitmap is exempt by algebra (BIT_OR is idempotent)."""
    import pytest

    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.sources.readers import load_events

    ev = load_events(spark, sf_dir)
    d1, d2 = "2024-01-05", "2024-01-06"
    ev1 = ev.where(f"to_date(ts) = '{d1}'")
    ev2 = ev.where(f"to_date(ts) = '{d2}'")

    # --- MG arm ---
    mp = str(tmp_path / "mgwm")
    MG.mg_rollup_append_chunk(ev1, mp, d1, chunk=0)
    MG.mg_rollup_append_chunk(ev2, mp, d2, chunk=0)
    MG.mg_rollup_compact(spark, mp, d1)
    with pytest.raises(ValueError, match="watermark"):
        MG.mg_rollup_append_chunk(ev1, mp, d1, chunk=0)
    # per-day scope: day 2 (uncompacted) still accepts its ids
    MG.mg_rollup_append_chunk(ev2, mp, d2, chunk=1)
    # fresh id above the watermark still appends into day 1
    MG.mg_rollup_append_chunk(ev1, mp, d1, chunk=1)
    # the multi-day batch appender checks the MAX across days
    with pytest.raises(ValueError, match="watermark"):
        MG.mg_rollup_append_batch(ev, mp, batch_id=0)

    # --- CMS arm ---
    cp = str(tmp_path / "cmswm")
    SK.cms_rollup_append_chunk(ev1, cp, d1, chunk=0)
    SK.cms_rollup_compact(spark, cp, d1)
    with pytest.raises(ValueError, match="watermark"):
        SK.cms_rollup_append_chunk(ev1, cp, d1, chunk=0)
    SK.cms_rollup_append_chunk(ev2, cp, d1, chunk=1)  # fresh id fine


def test_lsh_index_probe_exclude_is_replay_idempotent(spark, sf_dir, tmp_path):
    """The crawl-loop replay contract (r10 ADVICE): if a trigger's
    APPEND committed but the streaming checkpoint did not, the replayed
    probe must adjudicate against the store AS IT WAS — passing the
    batch's own doc_ids as ``exclude`` makes probe-after-append equal
    probe-before-append bit-for-bit."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.functions import dedup as DD

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _l11x_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _l11x_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3"
    )
    path = str(tmp_path / "lshx")
    DD.lsh_index_build(spark, path, "_l11x_corpus")

    def rows(exclude=None):
        return sorted(
            (r["doc_id"], r["decision"])
            for r in DD.lsh_index_probe(
                spark, path, "_l11x_batch", exclude=exclude
            ).collect()
        )

    before = rows()
    DD.lsh_index_append(spark, path, "_l11x_batch")
    batch_ids = spark.sql("SELECT doc_id FROM _l11x_batch")
    # without exclude, the batch's own rows poison the replayed probe
    assert rows() != before
    # with exclude, the replay sees the store as it was
    assert rows(exclude=batch_ids) == before
