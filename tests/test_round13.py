"""Round-13 pins.

1. DAY-dimension retention durability (r12 VERDICT #1 — the round's one
   weak component): ``rollup_expire`` now persists a MONOTONE
   ``.day_retention`` marker BEFORE its directory drops, and every
   day-store append verb enforces it — the law trio (expire →
   replay-append raises; replayed/lower-cutoff expire no-op;
   retained-range reads bit-identical pre/post) pinned across the
   explicit-day appenders AND the data-borne-day batch appenders the
   streaming foreachBatch sinks write through (VERDICT #4: one pin per
   merge class — additive CMS, SET MG/grouped-MG, OR bitmap,
   additive-weight t-digest, MAX HLL, SET theta).
2. The r12 ADVICE hardening of the hoisted store_layout machinery:
   root-swap marker re-merge, crashed-swap auto-recovery, lock-release
   FileNotFoundError suppression, the low-cardinality leading-key
   fallback in ``write_store_relation``, and ``pq_fit``'s subspace-0
   contract fallback.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

DAYS_LO, DAYS_HI = "2024-01-08", "2024-01-14"
CUT = "2024-01-11"  # expire days strictly below this


def _events_window(spark, sf_dir):
    from big_data_table_spark.sources.readers import load_events

    return load_events(spark, sf_dir).filter(
        F.to_date("ts").cast("string").between(DAYS_LO, DAYS_HI)
    )


def _day_of(ev, day):
    return ev.filter(F.to_date("ts").cast("string") == day)


def test_rollup_expire_day_retention_laws(spark, sf_dir, tmp_path):
    """The day-retention law trio on the HLL rollup store:
    (1) retained-range reads are bit-identical before and after expiry;
    (2) replayed and lower-cutoff expires are no-ops (monotone marker,
    dirs already gone); (3) a late replay of an expired day's append
    RAISES at the guard instead of resurrecting the day — and the
    full-span read proves nothing landed."""
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.functions.store_layout import _read_day_retention

    ev = _events_window(spark, sf_dir)
    path = str(tmp_path / "hll_day")
    days = sorted(
        r[0] for r in ev.select(F.to_date("ts").cast("string").alias("d")).distinct().collect()
    )
    assert days[0] < CUT < days[-1], "fixture window must straddle the cutoff"
    for d in days:
        SK.hll_rollup_append_day(_day_of(ev, d), path, d)

    def read_range(lo, hi):
        store = spark.read.parquet(path).filter(
            F.col("day").cast("string").between(lo, hi)
        ).select(F.col("day").cast("string").alias("day"), "bucket", "reg")
        return sorted(
            tuple(r) for r in SK.hll_estimate(store, ["day"]).select("day", "hll_est").collect()
        )

    before = read_range(CUT, DAYS_HI)
    dropped = SK.rollup_expire(path, CUT)
    assert dropped == [d for d in days if d < CUT]
    assert _read_day_retention(path) == CUT
    # (1) retained range bit-identical
    assert read_range(CUT, DAYS_HI) == before
    # (2) replay + lower cutoff: no-ops, marker monotone
    assert SK.rollup_expire(path, CUT) == []
    assert SK.rollup_expire(path, DAYS_LO) == []
    assert _read_day_retention(path) == CUT
    # (3) replay-append of a forgotten day raises; nothing resurrects
    with pytest.raises(ValueError, match="day-retention"):
        SK.hll_rollup_append_day(_day_of(ev, days[0]), path, days[0])
    assert read_range(DAYS_LO, DAYS_HI) == before


def test_day_retention_guard_explicit_day_appenders(spark, sf_dir, tmp_path):
    """Every EXPLICIT-day appender (day is an argument — the driver-side
    guard, no job launched) rejects a forgotten day: theta (SET),
    t-digest (additive weights — a resurrected day double-counts), CMS
    chunk (additive counters), MG chunk (summary-prune)."""
    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.operators import tdigest as TD

    ev = _events_window(spark, sf_dir)
    old, new = "2024-01-09", "2024-01-12"

    p = str(tmp_path / "theta")
    SK.theta_rollup_append_day(_day_of(ev, old), p, old)
    SK.theta_rollup_append_day(_day_of(ev, new), p, new)
    SK.rollup_expire(p, CUT)
    with pytest.raises(ValueError, match="day-retention"):
        SK.theta_rollup_append_day(_day_of(ev, old), p, old)
    SK.theta_rollup_append_day(_day_of(ev, new), p, new)  # retained day still appends

    p = str(tmp_path / "td")
    TD.tdigest_rollup_append_day(
        _day_of(ev, old).select(F.col("value")), p, old
    )
    SK.rollup_expire(p, CUT)
    with pytest.raises(ValueError, match="day-retention"):
        TD.tdigest_rollup_append_day(_day_of(ev, old).select("value"), p, old)

    p = str(tmp_path / "cms")
    SK.cms_rollup_append_chunk(_day_of(ev, old), p, old, 0)
    SK.rollup_expire(p, CUT)
    with pytest.raises(ValueError, match="day-retention"):
        SK.cms_rollup_append_chunk(_day_of(ev, old), p, old, 1)
    SK.cms_rollup_append_chunk(_day_of(ev, new), p, new, 1)  # retained ok

    p = str(tmp_path / "mg")
    MG.mg_rollup_append_chunk(_day_of(ev, old), p, old, 0)
    SK.rollup_expire(p, CUT)
    with pytest.raises(ValueError, match="day-retention"):
        MG.mg_rollup_append_chunk(_day_of(ev, old), p, old, 1)


def test_day_retention_guard_batch_appenders(spark, sf_dir, tmp_path):
    """The data-borne-day BATCH appenders — the verbs the streaming
    foreachBatch sinks write through (VERDICT r12 #4) — enforce the
    cutoff EXECUTOR-side (``_guard_expired_days``: the write job itself
    raises and commits nothing).  One pin per merge class: additive
    CMS, SET MG, SET grouped-MG, OR bitmap.  After the failed replay,
    the store is bit-identical — no partial resurrection — and a batch
    of only-retained days still lands."""
    from big_data_table_spark.functions import bitmap_store as BS
    from big_data_table_spark.functions import mg_store as MG
    from big_data_table_spark.functions import sketches as SK

    ev = _events_window(spark, sf_dir)
    expired_batch = ev.filter(F.to_date("ts").cast("string") < CUT)
    retained_batch = ev.filter(F.to_date("ts").cast("string") >= CUT)

    def snapshot(p):
        return sorted(tuple(r) for r in spark.read.parquet(p).collect())

    cases = [
        (
            "cmsb",
            lambda df, p, b: SK.cms_rollup_append_batch(df, p, b),
        ),
        (
            "mgb",
            lambda df, p, b: MG.mg_rollup_append_batch(df, p, b),
        ),
        (
            "mggb",
            lambda df, p, b: MG.mg_rollup_grouped_append_batch(df, p, b),
        ),
        (
            "bmb",
            lambda df, p, b: BS.bitmap_rollup_append_batch(df, p, b),
        ),
    ]
    for tag, append in cases:
        p = str(tmp_path / tag)
        append(ev, p, 0)
        SK.rollup_expire(p, CUT)
        before = snapshot(p)
        # a replayed batch touching a forgotten day raises in the job
        with pytest.raises(Exception, match="day-retention"):
            append(expired_batch, p, 1)
        assert snapshot(p) == before, f"{tag}: failed append left residue"
        append(retained_batch, p, 2)  # only-retained batch still lands
        assert len(snapshot(p)) > len(before), f"{tag}: retained append lost"


def test_rollup_expire_marker_before_removal(spark, sf_dir, tmp_path, monkeypatch):
    """Crash ordering: rollup_expire persists the day-retention marker
    BEFORE removing day dirs — a crash mid-verb leaves the guard armed
    (replay raises; re-run completes the drop), never the reverse
    window where dirs are gone but a replay could resurrect the day."""
    import shutil as _shutil

    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.functions.store_layout import _read_day_retention

    ev = _events_window(spark, sf_dir)
    old, new = "2024-01-09", "2024-01-12"
    path = str(tmp_path / "crashhll")
    SK.hll_rollup_append_day(_day_of(ev, old), path, old)
    SK.hll_rollup_append_day(_day_of(ev, new), path, new)

    real_rmtree = _shutil.rmtree

    def exploding_rmtree(p, **kw):
        raise OSError("simulated crash mid-expire")

    monkeypatch.setattr(_shutil, "rmtree", exploding_rmtree)
    try:
        with pytest.raises(OSError, match="simulated crash"):
            SK.rollup_expire(path, CUT)
    finally:
        monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    # marker landed before the (crashed) removal...
    assert _read_day_retention(path) == CUT
    assert os.path.isdir(os.path.join(path, f"day={old}"))  # dir survived the crash
    # ...so the replay already raises
    with pytest.raises(ValueError, match="day-retention"):
        SK.hll_rollup_append_day(_day_of(ev, old), path, old)
    # and re-running the verb completes the drop (marker write no-op)
    assert SK.rollup_expire(path, CUT) == [old]
    assert not os.path.isdir(os.path.join(path, f"day={old}"))


def test_day_retention_marker_survives_compaction(spark, sf_dir, tmp_path):
    """The marker lives at the store ROOT; per-day compaction swaps only
    ``day=`` sub-dirs — so the guard stays armed across a compact of a
    retained day (the documented markers-survive-everything-but-build
    contract, now including the day axis)."""
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.functions.store_layout import _read_day_retention

    ev = _events_window(spark, sf_dir)
    old, new = "2024-01-09", "2024-01-12"
    path = str(tmp_path / "hllc")
    SK.hll_rollup_append_day(_day_of(ev, old), path, old)
    SK.hll_rollup_append_day(_day_of(ev, new), path, new)
    SK.hll_rollup_append_day(_day_of(ev, new), path, new)  # 2 files to compact
    SK.rollup_expire(path, CUT)
    assert SK.hll_rollup_compact(spark, path, new) == 1
    assert _read_day_retention(path) == CUT
    with pytest.raises(ValueError, match="day-retention"):
        SK.hll_rollup_append_day(_day_of(ev, old), path, old)


def test_root_swap_remerges_window_marker(tmp_path, monkeypatch):
    """r12 ADVICE: a marker write landing between _swap_store_root's
    file-copy loop and its rename pair used to be silently discarded
    with the old root (a lost retention cutoff resurrects expired
    data).  The swap now re-merges markers found in the parked old root
    through the locked MONOTONE writer — reproduced here by injecting
    the marker write exactly inside the window via an os.rename shim."""
    from big_data_table_spark.functions import store_layout as SL

    root = str(tmp_path / "store")
    os.makedirs(root + "/sub")
    with open(root + "/sub/a.txt", "w") as fh:
        fh.write("old")
    SL._write_int_marker_monotone(root, ".retention", 5)
    tmp = SL._stage_store_root(root)
    os.makedirs(tmp + "/sub")
    with open(tmp + "/sub/a.txt", "w") as fh:
        fh.write("new")

    real_rename = os.rename
    state = {"hit": False}

    def inject(src, dst):
        if not state["hit"] and src == root:
            state["hit"] = True
            monkeypatch.setattr(os, "rename", real_rename)
            SL._write_int_marker_monotone(root, ".retention", 99)
            monkeypatch.setattr(os, "rename", inject)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", inject)
    try:
        SL._swap_store_root(tmp, root)
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
    assert state["hit"], "the injection must have fired"
    assert SL._read_int_marker(root, ".retention") == 99
    with open(root + "/sub/a.txt") as fh:
        assert fh.read() == "new"
    assert not os.path.isdir(SL._aside_root_for(root))


def test_recover_store_root_crash_window(spark, sf_dir, tmp_path):
    """r12 ADVICE: a crash between the root swap's two renames leaves
    the store root ABSENT with the old copy stranded in the dot-aside
    sibling.  Loads and stagings now auto-heal: the IVF search path
    recovers the parked root instead of raising, and _stage_store_root
    recovers before staging."""
    from big_data_table_spark.functions import clustering as C
    from big_data_table_spark.functions import store_layout as SL
    from big_data_table_spark.sources.readers import Tables

    e = Tables(spark, sf_dir).embeddings
    vecs = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    path = str(tmp_path / "ivf")
    C.ivf_build(vecs.filter("vec_id < 40"), path, k=2, n_iter=1)
    q = vecs.filter("vec_id < 2").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    before = sorted(
        tuple(r)
        for r in C.ann_ivf_persisted_search(spark, path, q, n_probe=1, topk=3).collect()
    )
    # simulate the mid-swap crash: root parked in the aside sibling
    os.rename(path, SL._aside_root_for(path))
    assert not os.path.isdir(path)
    after = sorted(
        tuple(r)
        for r in C.ann_ivf_persisted_search(spark, path, q, n_probe=1, topk=3).collect()
    )
    assert after == before
    assert os.path.isdir(path)
    # _stage_store_root also recovers (idempotent when already healed)
    os.rename(path, SL._aside_root_for(path))
    SL._stage_store_root(path)
    assert os.path.isdir(path)


def test_marker_lock_release_suppresses_external_cleanup(tmp_path, monkeypatch):
    """r12 ADVICE: if an operator removed the lock file mid-section, the
    release must not mask the section's outcome — a successful write
    still lands, and a section error propagates AS ITSELF rather than
    as FileNotFoundError from the finally."""
    from big_data_table_spark.functions import store_layout as SL

    root = str(tmp_path / "s")
    os.makedirs(root)
    real_read = SL._read_raw_marker

    def steal_lock_then_read(store_path, name):
        lock = os.path.join(store_path, f".{name}.lock")
        if os.path.isfile(lock):
            os.unlink(lock)  # external cleanup mid-section
        return real_read(store_path, name)

    monkeypatch.setattr(SL, "_read_raw_marker", steal_lock_then_read)
    SL._write_int_marker_monotone(root, ".m", 7)  # must not raise
    monkeypatch.setattr(SL, "_read_raw_marker", real_read)
    assert SL._read_int_marker(root, ".m") == 7

    def steal_lock_then_boom(store_path, name):
        lock = os.path.join(store_path, f".{name}.lock")
        if os.path.isfile(lock):
            os.unlink(lock)
        raise RuntimeError("section error")

    monkeypatch.setattr(SL, "_read_raw_marker", steal_lock_then_boom)
    with pytest.raises(RuntimeError, match="section error"):
        SL._write_int_marker_monotone(root, ".m", 9)


def test_write_store_relation_low_cardinality_fallback(spark, tmp_path):
    """r12 ADVICE: when the size rule asks for more files than the
    leading key has distinct values, the rewrite falls back to
    composite-key hashing (multi-key stores — write parallelism
    restored) or caps the file count at the key cardinality
    (single-key stores — no empty files), result-neutrally.  A
    high-cardinality leading key keeps the leading-key-only layout."""
    from big_data_table_spark.functions.store_layout import write_store_relation

    def nfiles(d):
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    hot = spark.range(0, 20000).select(
        F.lit("k1").alias("tk"), F.col("id").alias("doc")
    )
    dest = str(tmp_path / "hot")
    write_store_relation(hot, dest, "tk", "doc", target_file_bytes=1 << 12)
    assert nfiles(dest) > 1  # composite fallback: not one task for the hot key
    assert spark.read.parquet(dest).count() == 20000

    two = spark.range(0, 20000).select((F.col("id") % 2).cast("string").alias("tk"))
    dest2 = str(tmp_path / "two")
    write_store_relation(two, dest2, "tk", target_file_bytes=1 << 12)
    assert nfiles(dest2) == 2  # capped at the key cardinality — no empty files

    hi = spark.range(0, 4000).select(
        F.col("id").cast("string").alias("tk"), F.col("id").alias("doc")
    )
    dest3 = str(tmp_path / "hi")
    write_store_relation(hi, dest3, "tk", "doc", target_file_bytes=1 << 12)
    assert nfiles(dest3) > 1  # high-cardinality: size-derived multi-file holds


def test_pq_fit_subspace_zero_contract(spark):
    """r12 ADVICE: pq_fit's fast init cutoff scans subspace 0 only — a
    caller whose subs relation lacks s=0 (filtered / re-numbered
    subspaces) now falls back to the DISTINCT vec_id scan instead of a
    spurious empty-source error; a truly empty relation still raises
    the clear message."""
    from big_data_table_spark.functions.clustering import pq_fit

    subs = spark.createDataFrame(
        [(i, s, [float(i), float(s)]) for i in range(6) for s in (1, 2)],
        "vec_id long, s int, e array<double>",
    )
    cb = pq_fit(subs, k=2, n_iter=1)
    assert cb.count() > 0  # fallback path trains
    with pytest.raises(ValueError, match="empty"):
        pq_fit(subs.filter("vec_id < 0"), k=2, n_iter=1)


def test_jpeg_codec_laws():
    """The r13 baseline-JPEG codec pair (the last algorithmic media gap):
    (1) block-constant even-gray images round-trip EXACTLY (the DC-only
    tie-free regime the catalog oracle exploits); (2) smooth gradients
    round-trip within a tight lossy tolerance AND actually lose
    information (the AC/quantization path is genuinely exercised, not
    bypassed); (3) non-multiple-of-8 dims pad and crop correctly;
    (4) flat extremes clamp exactly; (5) encoding is deterministic;
    (6) unsupported features raise with the feature named."""
    import numpy as np

    from big_data_table_spark.functions.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
    )

    # (1) exact regime: the catalog entry's pixel model
    for did in (0, 3, 7, 11):
        w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
        bxs, bys = np.arange(w // 8), np.arange(h // 8)
        vals = 2 * ((did * 7 + bxs[None, :] * 13 + bys[:, None] * 31) % 128)
        gray = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
        rgb = np.stack([gray] * 3, -1).tobytes()
        w2, h2, out = decode_jpeg(encode_jpeg(w, h, rgb))
        assert (w2, h2) == (w, h) and out == rgb

    # (2) lossy tolerance on a smooth gradient — and genuinely lossy
    w, h = 32, 24
    x, y = np.arange(w), np.arange(h)
    img = np.stack(
        [
            ((x[None, :] * 3 + y[:, None] * 2) % 256),
            np.broadcast_to((x[None, :] * 5 + 40) % 256, (h, w)),
            np.broadcast_to((y[:, None] * 7 + 90) % 256, (h, w)),
        ],
        -1,
    ).astype(np.uint8)
    blob = encode_jpeg(w, h, img.tobytes())
    w2, h2, out = decode_jpeg(blob)
    dec = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
    err = np.abs(dec - img.astype(int))
    assert (w2, h2) == (w, h)
    assert err.max() <= 20, f"gradient max err {err.max()}"
    assert err.max() > 0, "AC path bypassed: lossy codec decoded losslessly"

    # (3) padding + crop
    w, h = 13, 9
    r = ((x[None, :13] * 3 + y[:9, None] * 2) % 200).astype(np.uint8)
    odd = np.stack([r, r // 2 + 30, r // 3 + 60], -1).astype(np.uint8)
    w2, h2, out = decode_jpeg(encode_jpeg(w, h, odd.tobytes()))
    dec = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
    assert (w2, h2) == (w, h)
    assert np.abs(dec - odd.astype(int)).max() <= 20

    # (4) flat extremes clamp exactly
    for v in (0, 255):
        flat = np.full((8, 8, 3), v, np.uint8)
        assert decode_jpeg(encode_jpeg(8, 8, flat.tobytes()))[2] == flat.tobytes()

    # (5) deterministic bytes
    assert encode_jpeg(w, h, odd.tobytes()) == encode_jpeg(w, h, odd.tobytes())

    # (6) honest gates + magic routing
    assert decode_image(encode_jpeg(8, 8, bytes(192))) == (8, 8, "RGB")
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\nxxxx")
    blob = bytearray(encode_jpeg(8, 8, bytes(192)))
    i = blob.find(b"\xff\xc0")
    # (r14 made SOF2 progressive a SUPPORTED frame type, so this gate
    # pin now flips to SOF3 lossless — still outside the supported set)
    blob[i + 1] = 0xC3  # flip SOF0 -> SOF3 (lossless)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(blob))

    # (7) the 4:2:0 arm (the sampling grid real-world encoders default
    # to): MCU-constant even gray round-trips EXACTLY through the 4-Y +
    # subsampled-chroma interleave; a colored gradient stays within the
    # wider chroma-subsampling tolerance AND compresses smaller than
    # 4:4:4; odd dims pad to the 16px MCU grid and crop back.
    mvals = 2 * ((np.arange(2)[None, :] * 13 + np.arange(2)[:, None] * 31 + 9) % 128)
    gray = np.repeat(np.repeat(mvals, 16, 0), 16, 1).astype(np.uint8)
    rgb = np.stack([gray] * 3, -1).tobytes()
    assert decode_jpeg(encode_jpeg(32, 32, rgb, subsample=True))[2] == rgb
    w, h = 48, 32
    x, y = np.arange(w), np.arange(h)
    img = np.stack(
        [
            ((x[None, :] * 2 + y[:, None] * 2) % 200),
            np.broadcast_to((x[None, :] * 3 + 40) % 200, (h, w)),
            np.broadcast_to((y[:, None] * 4 + 90) % 200, (h, w)),
        ],
        -1,
    ).astype(np.uint8)
    b420 = encode_jpeg(w, h, img.tobytes(), subsample=True)
    b444 = encode_jpeg(w, h, img.tobytes())
    dec = np.frombuffer(decode_jpeg(b420)[2], np.uint8).reshape(h, w, 3).astype(int)
    assert np.abs(dec - img.astype(int)).max() <= 40
    assert len(b420) < len(b444), "4:2:0 must spend fewer bits than 4:4:4"
    w2, h2, out = decode_jpeg(encode_jpeg(21, 13, bytes(21 * 13 * 3), subsample=True))
    assert (w2, h2) == (21, 13) and out == bytes(21 * 13 * 3)
    blob = bytearray(encode_jpeg(16, 16, bytes(16 * 16 * 3), subsample=True))
    i = blob.find(b"\xff\xc0")
    # marker(2) + len(2) + prec(1) + h(2) + w(2) + ncomp(1) + cid(1) -> samp
    # (r14 made 2x1 = 4:2:2 a SUPPORTED grid, so this gate pin now
    # flips to 1x2 = 4:4:0 — still outside the supported set)
    blob[i + 11] = 0x12  # Y sampling 2x2 -> 1x2 (unsupported grid)
    with pytest.raises(ValueError, match="sampling grid"):
        decode_jpeg(bytes(blob))

    # (8) DRI/RSTn restart intervals (real-world encoders emit them):
    # the restarted stream decodes BIT-IDENTICALLY to the restartless
    # one (same coefficients; only the DC prediction chain and byte
    # alignment differ) in both sampling grids, and orphan RSTn
    # markers without a DRI segment raise.
    w, h = 48, 32
    plain = decode_jpeg(encode_jpeg(w, h, img.tobytes()))
    for ri in (1, 3):
        blob = encode_jpeg(w, h, img.tobytes(), restart_interval=ri)
        assert b"\xff\xdd" in blob
        assert decode_jpeg(blob) == plain
    plain420 = decode_jpeg(encode_jpeg(w, h, img.tobytes(), subsample=True))
    rst420 = encode_jpeg(w, h, img.tobytes(), subsample=True, restart_interval=2)
    assert decode_jpeg(rst420) == plain420
    blob = bytearray(encode_jpeg(w, h, img.tobytes(), restart_interval=2))
    d = blob.find(b"\xff\xdd")
    del blob[d : d + 6]  # strip the DRI segment, leave the RSTn markers
    with pytest.raises(ValueError, match="no DRI"):
        decode_jpeg(bytes(blob))


def test_bilinear_resize_laws():
    """The r13 pure-numpy bilinear resize (resize_image un-gated from
    PIL): identity resize is byte-exact; downscaling a block-constant
    image by its block grid returns the block-value matrix exactly
    (every output center samples strictly inside one constant block —
    the catalog entry's regime); the full decode→resize→re-encode path
    round-trips through real JPEG in / PNG out; output range is always
    clamped to u8."""
    import numpy as np

    from big_data_table_spark.functions.multimodal import (
        decode_png,
        encode_jpeg,
        resize_image,
        resize_rgb,
    )

    did = 4
    w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
    bxs, bys = np.arange(w // 8), np.arange(h // 8)
    vals = 2 * ((did * 7 + bxs[None, :] * 13 + bys[:, None] * 31) % 128)
    gray = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    rgb = np.stack([gray] * 3, -1).tobytes()
    assert resize_rgb(w, h, rgb, w, h) == rgb  # identity exact
    small = np.frombuffer(
        resize_rgb(w, h, rgb, w // 8, h // 8), np.uint8
    ).reshape(h // 8, w // 8, 3)
    assert (small[..., 0] == vals).all()  # block downscale exact
    # full pipeline: JPEG in, bilinear, PNG out
    out = resize_image(encode_jpeg(w, h, rgb), w // 8, h // 8)
    w2, h2, px2 = decode_png(out)
    assert (w2, h2) == (w // 8, h // 8)
    assert (np.frombuffer(px2, np.uint8).reshape(h // 8, w // 8, 3)[..., 2] == vals).all()
    # fractional upscale: right shape, clamped
    up = np.frombuffer(resize_rgb(w, h, rgb, 31, 23), np.uint8)
    assert len(up) == 31 * 23 * 3
    with pytest.raises(ValueError, match="unsupported image container"):
        resize_image(b"GIF89a....", 4, 4)
