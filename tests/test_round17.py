"""Round-17 optimization laws.

The r16 literal-inline argmin (clustering.py) is only safe while k is a
bounded model parameter; ``ivf_requantize`` derives k ~ sqrt(n), so r17
adds a chunked array-fold path above ``_ARGMIN_LITERAL_MAX_K``.  These
laws pin the switch invisible: fold == literal == the original
crossJoin+window ground truth, on clusters and codebooks, chunked and
unchunked, including a forced-large-k (>= 4096) run that the literal
path could not plan safely.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_table_spark.functions import clustering as C


def _lcg_vecs(n: int, dim: int, seed: int = 12345):
    """Deterministic pseudo-random double arrays in [0, 1)."""
    state = seed
    out = []
    for i in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53))
        out.append((i, row))
    return out


def _window_argmin(spark, vecs_df, cents_df):
    """The ORIGINAL (pre-r16) formulation — crossJoin + row_number over
    (ROUND(dist, 6) ASC, cid ASC) — as ground truth for both rewrites."""
    dist = F.round(
        C._dot(F.col("e"), F.col("e"))
        - 2 * C._dot(F.col("e"), F.col("c"))
        + C._dot(F.col("c"), F.col("c")),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(dist.asc(), F.col("cid").asc())
    return (
        vecs_df.crossJoin(F.broadcast(cents_df))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


@pytest.fixture(scope="module")
def small_model(spark):
    vecs = spark.createDataFrame(
        [(i, v) for i, v in _lcg_vecs(80, 6, seed=7)], "vec_id long, e array<double>"
    )
    cents = spark.createDataFrame(
        [(100 + i, v) for i, v in _lcg_vecs(130, 6, seed=99)],
        "cid long, c array<double>",
    )
    return vecs, cents


def test_assign_fold_matches_literal_and_window(spark, small_model, monkeypatch):
    """k = 130 > 64 -> fold path; raising the literal bound must yield
    bit-identical assignments, and both must equal the original window
    formulation."""
    vecs, cents = small_model
    fold = {r["vec_id"]: r["cid"] for r in C.assign_clusters(vecs, cents).collect()}
    monkeypatch.setattr(C, "_ARGMIN_LITERAL_MAX_K", 1000)
    lit = {r["vec_id"]: r["cid"] for r in C.assign_clusters(vecs, cents).collect()}
    truth = {r["vec_id"]: r["cid"] for r in _window_argmin(spark, vecs, cents).collect()}
    assert fold == lit == truth
    assert len(fold) == 80


def test_assign_fold_chunked_identical(spark, small_model, monkeypatch):
    """Forcing tiny chunks (5 chunks of ~26 centroids) must not change a
    single assignment — chunk membership is irrelevant to a global min."""
    vecs, cents = small_model
    one = {r["vec_id"]: r["cid"] for r in C.assign_clusters(vecs, cents).collect()}
    monkeypatch.setattr(C, "_ARGMIN_FOLD_CHUNK", 32)
    many = {r["vec_id"]: r["cid"] for r in C.assign_clusters(vecs, cents).collect()}
    assert one == many


def test_assign_fold_large_k_completes(spark):
    """Forced large k (4096 — the r16 VERDICT #1 done-criterion): the
    fold path plans and runs with a bounded expression (1 chunk at the
    default chunk size) and matches the window ground truth."""
    vecs = spark.createDataFrame(
        [(i, v) for i, v in _lcg_vecs(40, 4, seed=3)], "vec_id long, e array<double>"
    )
    cents = spark.createDataFrame(
        [(i, v) for i, v in _lcg_vecs(4096, 4, seed=17)],
        "cid long, c array<double>",
    )
    fold = {r["vec_id"]: r["cid"] for r in C.assign_clusters(vecs, cents).collect()}
    truth = {r["vec_id"]: r["cid"] for r in _window_argmin(spark, vecs, cents).collect()}
    assert fold == truth
    # the plan carries the model as ONE packed broadcast row, not as
    # inline literals: the parsed expression stays k-independent
    plan = C.assign_clusters(vecs, cents)._jdf.queryExecution().toString()
    assert "CrossJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_codebook_fold_matches_literal_and_window(spark, monkeypatch):
    """Per-subspace fold == literal == window ground truth when one
    subspace exceeds the literal bound (k = 70 > 64)."""
    rows = []
    for s in range(3):
        for cid, v in _lcg_vecs(70, 4, seed=50 + s):
            rows.append((s, cid + 10, v))
    cb = spark.createDataFrame(rows, "s int, cid long, c array<double>")
    subs = spark.createDataFrame(
        [(i, s, v) for s in range(3) for i, v in _lcg_vecs(30, 4, seed=80 + s)],
        "vec_id long, s int, e array<double>",
    )
    fold = {
        (r["vec_id"], r["s"]): r["cid"]
        for r in C.assign_codebook(subs, cb).collect()
    }
    monkeypatch.setattr(C, "_ARGMIN_LITERAL_MAX_K", 1000)
    lit = {
        (r["vec_id"], r["s"]): r["cid"]
        for r in C.assign_codebook(subs, cb).collect()
    }
    # window ground truth, keyed by subspace
    dist = F.round(
        C._dot(F.col("e"), F.col("e"))
        - 2 * C._dot(F.col("e"), F.col("c"))
        + C._dot(F.col("c"), F.col("c")),
        6,
    )
    w = Window.partitionBy("vec_id", "s").orderBy(dist.asc(), F.col("cid").asc())
    truth = {
        (r["vec_id"], r["s"]): r["cid"]
        for r in subs.join(F.broadcast(cb), "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "cid")
        .collect()
    }
    assert fold == lit == truth
    assert len(fold) == 90
    # 32 subspaces x 64 codewords: every subspace is within the literal
    # bound, so the literal path serves it (no packed-model crossJoin)
    # however many subspaces there are, and picks the fold's ids
    monkeypatch.setattr(C, "_ARGMIN_LITERAL_MAX_K", 64)
    cb32 = spark.createDataFrame(
        [(s, cid, v) for s in range(32) for cid, v in _lcg_vecs(64, 2, seed=200 + s)],
        "s int, cid long, c array<double>",
    )
    subs32 = spark.createDataFrame(
        [(i, s, v) for s in range(32) for i, v in _lcg_vecs(4, 2, seed=300 + s)],
        "vec_id long, s int, e array<double>",
    )
    lit_df = C.assign_codebook(subs32, cb32)
    plan = lit_df._jdf.queryExecution().toString()
    assert "CrossJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    lit32 = {(r["vec_id"], r["s"]): r["cid"] for r in lit_df.collect()}
    monkeypatch.setattr(C, "_ARGMIN_LITERAL_MAX_K", 63)
    fold32 = {
        (r["vec_id"], r["s"]): r["cid"]
        for r in C.assign_codebook(subs32, cb32).collect()
    }
    assert lit32 == fold32
    assert len(lit32) == 128


def test_codebook_fold_drops_unknown_subspace(spark):
    """The fold path keeps the literal path's inner-join semantics:
    subs rows whose subspace has no codebook entries are dropped."""
    cb = spark.createDataFrame(
        [(0, cid, v) for cid, v in _lcg_vecs(70, 4, seed=5)],
        "s int, cid long, c array<double>",
    )
    subs = spark.createDataFrame(
        [(1, 0, [0.1, 0.2, 0.3, 0.4]), (2, 9, [0.5, 0.6, 0.7, 0.8])],
        "vec_id long, s int, e array<double>",
    )
    out = C.assign_codebook(subs, cb).collect()
    assert [r["vec_id"] for r in out] == [1]


def test_sem_k_rule_cap_matches_both_engines(spark, duck):
    """The semantic-k cap is lowered to 2**21 (r16 VERDICT #7: the packed
    single-row centroid array caps at the 2 GiB value limit ~4M structs
    at dim 64; 2**26 advertised a size the fold could not carry).  The
    Python rule and the SQL rule must agree at every boundary, on both
    engines, including past the cap's square."""
    from big_data_table_spark.functions.similarity import (
        _SEM_K_CAP_POW,
        sem_k_rule_sql,
        sem_n_centroids_for,
    )

    assert _SEM_K_CAP_POW == 21
    cap = 1 << 21
    probes = [0, 1, 64, 65, 4096, 4097, cap * cap - 1, cap * cap, cap * cap + 1, 1 << 52, (1 << 62)]
    for n in probes:
        py_k = sem_n_centroids_for(n)
        duck_k = duck.execute(f"SELECT {sem_k_rule_sql(str(n))}").fetchone()[0]
        spark_k = spark.sql(f"SELECT {sem_k_rule_sql(str(n))}").collect()[0][0]
        assert py_k == duck_k == spark_k, (n, py_k, duck_k, spark_k)
        assert 8 <= py_k <= cap


def test_setjoin_probe_broadcast_guard(spark, monkeypatch, tmp_path):
    """r16 VERDICT #6: the probe's verify broadcast is guarded by an
    exact candidate-doc set-size estimate.  An adversarial high-overlap
    batch (every doc shares most shingles with the store) pushed over a
    forced-zero threshold must take the no-hint fallback and return
    bit-identical pairs."""
    from big_data_table_spark.functions import dedup as DD

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{base} tail{i % 3}") for i in range(24)]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "_t17_docs"
    )
    path = str(tmp_path / "sj_guard")
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM _t17_docs WHERE doc_id % 2 = 0) _b"
    )
    probe_expr = "(SELECT * FROM _t17_docs WHERE doc_id % 2 = 1) _a"
    fast = sorted(map(tuple, DD.setjoin_index_probe(spark, path, probe_expr).collect()))
    monkeypatch.setattr(DD, "_SETJOIN_PROBE_BROADCAST_SHINGLES", 0)
    slow = sorted(map(tuple, DD.setjoin_index_probe(spark, path, probe_expr).collect()))
    assert fast == slow
    assert len(fast) > 0  # the overlap batch really produces pairs
    # a re-crawl batch whose doc_ids collide with store docs: the
    # estimate counts each side's set, so a threshold one below the
    # true two-sided sum must refuse the broadcast
    seen = []
    verify = DD._setjoin_verify_exact

    def spy(cand, sets_a, sets_b, broadcast_sets=False):
        seen.append((cand, broadcast_sets))
        return verify(cand, sets_a, sets_b, broadcast_sets=broadcast_sets)

    monkeypatch.setattr(DD, "_setjoin_verify_exact", spy)
    recrawl = "(SELECT * FROM _t17_docs WHERE doc_id % 2 = 0) _r"
    DD.setjoin_index_probe(spark, path, recrawl)
    cand = seen[-1][0]
    side_a = cand.select("doc_a", "n_a").distinct().collect()
    side_b = cand.select("doc_b", "n_b").distinct().collect()
    assert {r[0] for r in side_a} & {r[0] for r in side_b}  # ids collide
    true_est = sum(r[1] for r in side_a) + sum(r[1] for r in side_b)
    for threshold, small in ((true_est, True), (true_est - 1, False)):
        monkeypatch.setattr(DD, "_SETJOIN_PROBE_BROADCAST_SHINGLES", threshold)
        DD.setjoin_index_probe(spark, path, recrawl)
        assert seen[-1][1] is small, threshold


def _sj_pairs_sorted(spark, path):
    from big_data_table_spark.functions import dedup as DD

    return sorted(map(tuple, DD.setjoin_index_pairs(spark, path).collect()))


def test_setjoin_sets_relation_reads_identical(spark, tmp_path):
    """r17 (VERDICT #3): the persisted sets/ relation must serve the
    pairs read value-identically to grouping the shingle rows — under
    replayed appends AND a doc whose shingles arrive across two appends
    with different text (the union-merge case).  Deleting sets/ forces
    the legacy fallback; the results must match bit-for-bit."""
    import shutil

    from big_data_table_spark.functions import dedup as DD

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{base} tail{i % 4} extra{i % 2}") for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "_t17_sets_docs"
    )
    # a second batch RE-APPENDS doc 3 with different text: its set is
    # the union of both appends' shingles
    spark.createDataFrame(
        [(3, f"{base} omicron pi rho sigma")], "doc_id long, text string"
    ).createOrReplaceTempView("_t17_sets_extra")
    path = str(tmp_path / "sj_sets")
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM _t17_sets_docs WHERE doc_id < 10) _b"
    )
    for _ in range(2):  # replayed append
        DD.setjoin_index_append(
            spark, path, "(SELECT * FROM _t17_sets_docs WHERE doc_id >= 10) _a"
        )
    DD.setjoin_index_append(spark, path, "(SELECT * FROM _t17_sets_extra) _c")
    with_sets = _sj_pairs_sorted(spark, path)
    shutil.rmtree(f"{path}/sets")
    fallback = _sj_pairs_sorted(spark, path)
    assert with_sets == fallback
    assert len(with_sets) > 0
    # compact HEALS the missing sets/ relation, and the healed relation
    # still reads identically to the shingle fallback (the split-doc
    # re-append legitimately changes prefix n at re-freeze, so the law
    # is sets-read == fallback-read, not post-compact == pre-compact)
    DD.setjoin_index_compact(spark, path)
    import os

    assert os.path.isdir(f"{path}/sets")
    healed = _sj_pairs_sorted(spark, path)
    shutil.rmtree(f"{path}/sets")
    assert healed == _sj_pairs_sorted(spark, path)


def test_setjoin_sets_purge_and_probe_consistent(spark, tmp_path):
    """Purge rebuilds sets/ over the survivors; the probe served from
    sets/ equals the probe served from the shingle fallback."""
    import shutil

    from big_data_table_spark.functions import dedup as DD

    base = "one two three four five six seven eight nine ten"
    rows = [(i, f"{base} suffix{i % 3}") for i in range(18)]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "_t17_purge_docs"
    )
    path = str(tmp_path / "sj_purge")
    DD.setjoin_index_build(
        spark, path, "(SELECT * FROM _t17_purge_docs WHERE doc_id % 2 = 0) _b"
    )
    probe_expr = "(SELECT * FROM _t17_purge_docs WHERE doc_id % 2 = 1) _a"
    via_sets = sorted(map(tuple, DD.setjoin_index_probe(spark, path, probe_expr).collect()))
    shutil.rmtree(f"{path}/sets")
    via_shingles = sorted(
        map(tuple, DD.setjoin_index_probe(spark, path, probe_expr).collect())
    )
    assert via_sets == via_shingles and len(via_sets) > 0
    # delete + purge: scrubbed-before == plain-after, and sets/ is back
    DD.setjoin_index_delete(
        spark.createDataFrame([(0,), (2,)], "doc_id long"), path
    )
    scrubbed = sorted(
        map(tuple, DD.setjoin_index_pairs_scrubbed(spark, path).collect())
    )
    DD.setjoin_index_purge(spark, path)
    import os

    assert os.path.isdir(f"{path}/sets")
    assert _sj_pairs_sorted(spark, path) == scrubbed
