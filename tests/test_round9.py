"""Round-9 pins.

1. The r8-verdict scale-killer fix: the two exact top-k audit spines
   (``bloom_rolling_membership``, ``stream_cms_heavy_hitters``) now go
   through ``sketches.exact_top_keys`` — ``orderBy().limit(k)``, whose
   physical plan is TakeOrderedAndProject (per-partition partial top-k +
   a ≤ k·partitions-row driver merge), never an ``Exchange
   SinglePartition`` feeding a one-task Window sort over every distinct
   key.  Pinned both as a plan shape AND as bit-identity against the
   unpartitioned ``row_number`` spine it replaced (same tie-break).
2. The rename-aside store swap (``store_layout.staged_swap``): the
   rewritten dir is absent only between two renames, and no staging
   or aside dir survives any compact or purge verb.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_table_spark.functions import sketches as SK
from big_data_table_spark.plans import formatted_plan
from big_data_table_spark.sources.readers import load_events


def _user_counts(spark, sf_dir):
    return (
        load_events(spark, sf_dir)
        .select(F.col("user_id").cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def test_exact_top_keys_plan_is_take_ordered(spark, sf_dir):
    """No single-task global sort in the exact top-k spine: the plan is
    TakeOrderedAndProject with no SinglePartition exchange and no Window
    — mirroring test_plans.test_topk_uses_take_ordered for the shared
    audit-spine helper both fixed sites call."""
    top = SK.exact_top_keys(_user_counts(spark, sf_dir), "c", "v", 20)
    plan = formatted_plan(top)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_exact_top_keys_matches_row_number_spine(spark, sf_dir):
    """Bit-identity with the replaced spine: orderBy().limit(k) under the
    (count DESC, key) tie-break selects exactly the rows the
    unpartitioned row_number spine selected, in the same order."""
    counts = _user_counts(spark, sf_dir)
    fixed = [
        (r["v"], r["c"])
        for r in SK.exact_top_keys(counts, "c", "v", 10).collect()
    ]
    legacy = [
        (r["v"], r["c"])
        for r in counts.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("v"))
            ),
        )
        .filter(F.col("rn") <= 10)
        .orderBy("rn")
        .drop("rn")
        .collect()
    ]
    assert len(fixed) == 10
    assert fixed == legacy


def _first_day(ev):
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    d0 = ev.select(day.alias("d")).agg(F.min("d")).first()[0]
    return d0, ev.filter(day == d0)


def _day_store_case(build, append, compact):
    """A day-store rewrite case: build over the events, append one more
    slice of the first day, compact that day to one data file."""

    def run(spark, sf_dir, path):
        ev = load_events(spark, sf_dir)
        d0, ev0 = _first_day(ev)
        build(ev, path)
        append(ev0, path, d0)
        assert compact(spark, path, d0) == 1

    return run


def _doc_store_case(build, append, verb):
    """A text-index rewrite case over a small documents slice."""

    def run(spark, sf_dir, path):
        from big_data_table_spark.catalog_base import register_views

        register_views(spark, sf_dir)
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW _r9_docs AS "
            "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0"
        )
        build(spark, path, "_r9_docs")
        if append is not None:
            append(spark, path, "_r9_docs")
        verb(spark, path)

    return run


def _docs_deleted(delete):
    def append(spark, path, view):
        delete(spark.sql(f"SELECT doc_id FROM {view} WHERE doc_id % 3 = 0"), path)

    return append


def _bloom_case(spark, sf_dir, path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    SK.bloom_index_build(docs.filter(F.col("doc_id") % 3 == 0), path, "doc_id")
    SK.bloom_index_append(docs.filter(F.col("doc_id") % 3 == 1), path, "doc_id")
    SK.bloom_index_compact(spark, path)


def _bitmap_purge_case(spark, sf_dir, path):
    from big_data_table_spark.functions import bitmap_store as B

    ev = load_events(spark, sf_dir)
    B.bitmap_rollup_build(ev, path)
    B.bitmap_rollup_delete(ev.filter(F.col("user_id") % 7 == 3).select("user_id"), path)
    B.bitmap_rollup_purge(spark, path)


def _rewrite_cases():
    from big_data_table_spark.functions import dedup as DD
    from big_data_table_spark.functions import text as TX
    from big_data_table_spark.operators import tdigest as TD

    def chunk1(append):
        return lambda ev0, path, d0: append(ev0, path, d0, 1)

    return {
        "hll": _day_store_case(
            SK.hll_rollup_build, SK.hll_rollup_append_day, SK.hll_rollup_compact
        ),
        "cms": _day_store_case(
            SK.cms_rollup_build, chunk1(SK.cms_rollup_append_chunk), SK.cms_rollup_compact
        ),
        "theta": _day_store_case(
            SK.theta_rollup_build, SK.theta_rollup_append_day, SK.theta_rollup_compact
        ),
        "tdigest": _day_store_case(
            TD.tdigest_rollup_build,
            lambda ev0, path, d0: TD.tdigest_rollup_append_day(ev0, path, d0),
            TD.tdigest_rollup_compact,
        ),
        "bitmap": _day_store_case(
            SK.bitmap_rollup_build,
            lambda ev0, path, d0: SK.bitmap_rollup_append_chunk(ev0, path, 1),
            SK.bitmap_rollup_compact,
        ),
        "mg": _day_store_case(
            SK.mg_rollup_build, chunk1(SK.mg_rollup_append_chunk), SK.mg_rollup_compact
        ),
        "bloom": _bloom_case,
        "winnow": _doc_store_case(
            TX.winnow_index_build, TX.winnow_index_append, TX.winnow_index_compact
        ),
        "bm25": _doc_store_case(
            TX.bm25_index_build,
            lambda spark, path, view: TX.bm25_index_append(spark, path, view, chunk=1),
            TX.bm25_index_compact,
        ),
        "lsh": _doc_store_case(
            DD.lsh_index_build, DD.lsh_index_append, DD.lsh_index_compact
        ),
        "setjoin": _doc_store_case(
            DD.setjoin_index_build, DD.setjoin_index_append, DD.setjoin_index_compact
        ),
        "bitmap_purge": _bitmap_purge_case,
        "lsh_purge": _doc_store_case(
            DD.lsh_index_build, _docs_deleted(DD.lsh_index_delete), DD.lsh_index_purge
        ),
        "setjoin_purge": _doc_store_case(
            DD.setjoin_index_build,
            _docs_deleted(DD.setjoin_index_delete),
            DD.setjoin_index_purge,
        ),
    }


_REWRITE_VERBS = [
    "hll", "cms", "theta", "tdigest", "bitmap", "mg", "bloom", "winnow",
    "bm25", "lsh", "setjoin", "bitmap_purge", "lsh_purge", "setjoin_purge",
]


@pytest.mark.parametrize("verb", _REWRITE_VERBS)
def test_compactor_swap_leaves_no_aside_dir(spark, sf_dir, tmp_path, verb):
    """Every store rewrite verb cleans up after itself: once it returns,
    no ``.compact.`` / ``.purge.`` staging or aside sibling remains —
    neither inside the store root (day partitions, sub-relations) nor
    next to it (whole-store rewrites)."""
    path = str(tmp_path / "store")
    _rewrite_cases()[verb](spark, sf_dir, path)
    leftovers = [
        os.path.join(d, f)
        for d in (path, str(tmp_path))
        for f in os.listdir(d)
        if ".compact." in f or ".purge." in f
    ]
    assert leftovers == [], leftovers


# ------------------------------------------------------------------ #
# Misra-Gries / SpaceSaving day store (sixth store family) pins
# ------------------------------------------------------------------ #

def _mg_days(path):
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("day=")
    )


def _mg_rows(spark, path, lo, hi):
    return sorted(
        (r["key"], r["lower_cnt"], r["upper_cnt"])
        for r in SK.mg_rollup_range_topk(
            spark, path, lo, hi, topk=1000
        ).collect()
    )


def test_mg_range_plan_reads_only_summary_files(spark, sf_dir):
    """The MG store's no-rescan contract (HLL r6 / theta r7 / CMS r8
    applied to the summary-prune store): the range plan scans the
    partition-pruned summary parquet, never the events table."""
    import tempfile

    ev = load_events(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(), "mg_rollup")
    SK.mg_rollup_build(ev, path)
    days = _mg_days(path)
    est = SK.mg_rollup_range_topk(
        spark, path, days[0], days[-1], topk=5, checkpoint=False
    )
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "mg_rollup" in plan
    assert "events" not in plan
    assert est.count() == 5


def test_mg_replay_idempotent_and_compaction_bit_neutral(spark, sf_dir):
    """Two laws in one store lifecycle: (1) a REPLAYED chunk append
    writes byte-identical rows that the DISTINCT read absorbs (SET
    class); (2) compaction merges chunks WITHOUT re-pruning and the
    [lower, upper] range algebra is bit-identical before and after
    (the merge law: c sums, ube absorbs absent-sibling thresholds,
    thr sums)."""
    import tempfile

    ev = load_events(spark, sf_dir)
    day_col = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    path = os.path.join(tempfile.mkdtemp(), "mg_rollup")
    SK.mg_rollup_build(ev, path, cap=8)
    days = _mg_days(path)
    d0 = days[0]
    base = _mg_rows(spark, path, d0, days[-1])

    # replay law: re-append an existing day's events as a chunk, twice
    day_ev = ev.filter(day_col == d0)
    SK.mg_rollup_append_chunk(day_ev, path, d0, 7, cap=8)
    once = _mg_rows(spark, path, d0, days[-1])
    SK.mg_rollup_append_chunk(day_ev, path, d0, 7, cap=8)
    twice = _mg_rows(spark, path, d0, days[-1])
    assert once == twice  # duplicate identical rows are invisible
    assert once != base   # ...but the new chunk itself is real

    # merge law: compaction changes files, not answers
    SK.mg_rollup_compact(spark, path, d0)
    compacted = _mg_rows(spark, path, d0, days[-1])
    assert compacted == once


def test_mg_bounds_contain_truth_for_every_key(spark, sf_dir):
    """The store's honesty contract beyond the entry's top-20 audit:
    for EVERY key the store reports, the exact range count sits inside
    [lower_cnt, upper_cnt] — including keys pruned on some days (whose
    upper bound grows by those days' thresholds)."""
    import tempfile

    ev = load_events(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(), "mg_bounds")
    SK.mg_rollup_build(ev, path, cap=4)  # tiny cap forces real pruning
    days = _mg_days(path)
    store = {
        r["key"]: (r["lower_cnt"], r["upper_cnt"])
        for r in SK.mg_rollup_range_topk(
            spark, path, days[0], days[-1], topk=100000
        ).collect()
    }
    exact = {
        r["v"]: r["c"]
        for r in ev.select(F.col("user_id").cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    }
    assert store, "store reported no keys"
    pruned_somewhere = 0
    for k, (lb, ub) in store.items():
        assert lb <= exact[k] <= ub, (k, lb, exact[k], ub)
        if exact[k] > lb:
            pruned_somewhere += 1
    assert pruned_somewhere > 0  # cap=4 really pruned (bounds not trivial)


def test_stream_mg_store_really_multi_batch_and_replay_files(spark, sf_dir):
    """The streaming MG-store entry's claims, physically verified:
    (1) the stream really delivered three micro-batches — chunk
    partitions 0, 1 AND 2 exist under the days in range; (2) the
    replayed batch-1 append REALLY landed as extra files under
    chunk=1 (the SET class absorbs duplicates at read time — the
    evidence must exist on disk or the replay claim is vacuous);
    (3) no fourth chunk appeared."""
    import glob
    import tempfile

    from big_data_table_spark.catalog import CATALOG

    df = CATALOG["stream_mg_rollup_store"].fn(spark, sf_dir)
    assert 5 <= df.count() <= 20
    assert df.filter(~F.col("in_bounds")).count() == 0
    store = glob.glob(
        os.path.join(
            tempfile.gettempdir(),
            f"bdt_stream_mgroll_{spark.sparkContext.applicationId}",
            "store",
        )
    )
    assert store, "store dir missing"
    days = [d for d in os.listdir(store[0]) if d.startswith("day=")]
    assert len(days) >= 14
    chunk_sets = {}
    replay_evidence = 0
    for d in days:
        chunks = sorted(
            c
            for c in os.listdir(os.path.join(store[0], d))
            if c.startswith("chunk=")
        )
        chunk_sets[d] = chunks
        assert len(chunks) <= 3, (d, chunks)
        c1 = os.path.join(store[0], d, "chunk=1")
        if os.path.isdir(c1):
            n_files = len(
                [f for f in os.listdir(c1) if f.endswith(".parquet")]
            )
            if n_files >= 2:
                replay_evidence += 1
    assert any(
        cs == ["chunk=0", "chunk=1", "chunk=2"] for cs in chunk_sets.values()
    ), chunk_sets
    assert replay_evidence > 0  # the replay physically appended files


def test_compactor_aside_dir_is_invisible_to_partition_discovery(
    spark, sf_dir, tmp_path
):
    """Crash-window safety for the rename-aside swap: the aside dir is
    DOT-prefixed, so even if a crash leaves it behind, Spark's
    partition discovery skips it — a range read can never double-count
    the compacted day through a phantom 'day=...compact.old'
    partition.  Simulated by planting the leftover exactly as an
    interrupted _swap_dir_in would."""
    import shutil

    ev = load_events(spark, sf_dir)
    path = str(tmp_path / "hll_store")
    SK.hll_rollup_build(ev, path)
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("day=")
    )
    d0 = days[0]
    before = (
        spark.read.parquet(path)
        .filter(F.col("day").cast("string").between(days[0], days[-1]))
        .count()
    )
    # plant the crash leftover: a full copy of the day under the aside name
    shutil.copytree(
        os.path.join(path, f"day={d0}"),
        os.path.join(path, f".day={d0}.compact.old"),
    )
    after = (
        spark.read.parquet(path)
        .filter(F.col("day").cast("string").between(days[0], days[-1]))
        .count()
    )
    assert after == before  # the dot-dir is invisible; no double count


def test_r9_view_entries_rerun_identical_and_sf_switch_takes(spark, sf_dir):
    """Session-robustness for the r9 checkpoint+temp-view pattern: every
    entry that caches a checkpointed frame behind a temp view must (1)
    return an identical result when run TWICE in one session (the view
    is replaced, not stale), and (2) actually follow an sf_dir switch
    (register_views re-registers on change; a stale cached view would
    freeze the old fixture).  The retention curve's row count differs
    across SFs, which proves the switch physically took."""
    import sys

    sys.path.insert(0, "tests")
    from conftest import normalize

    from big_data_table_spark.catalog import CATALOG

    view_entries = [
        "events_peak_concurrency",
        "events_transition_entropy",
        "source_lang_entropy",
        "orders_seasonality_index",
        "simhash_hamming_histogram",
        "simhash_bit_balance",
        "quality_drift_ks",
        "events_retention_curve",
        "embedding_centroid_confusion",
    ]
    for name in view_entries:
        a = normalize(CATALOG[name].fn(spark, sf_dir).toPandas())
        b = normalize(CATALOG[name].fn(spark, sf_dir).toPandas())
        assert a.equals(b), name

    n_small = CATALOG["events_retention_curve"].fn(spark, sf_dir).count()
    n_big = CATALOG["events_retention_curve"].fn(
        spark, "/root/testdata/sf0.01"
    ).count()
    assert n_small != n_big  # the switch re-registered the fixture views
    # switch back and confirm the original result returns
    again = normalize(
        CATALOG["events_retention_curve"].fn(spark, sf_dir).toPandas()
    )
    first = normalize(
        CATALOG["events_retention_curve"].fn(spark, sf_dir).toPandas()
    )
    assert again.equals(first)
