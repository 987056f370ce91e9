"""Round-15 pins (hygiene + PNG color-type surface — VERDICT r14):

1. The jpeg_codec module-budget split (VERDICT #3): the codec pair
   moved to functions/jpeg_codec.py BEFORE any new media code, with a
   re-export shim keeping every historical import path (the
   theta_store precedent), and both files hold under the 2.5k budget.
2. The r14 ADVICE item: a legal BASELINE JPEG with non-interleaved
   per-component scans (ns < ncomp) raises instead of consuming one
   scan as if interleaved and silently producing wrong pixels.
3. PNG color types (VERDICT #6's named depth candidate): all five
   8-bit layouts — grayscale / RGB / palette / gray+alpha / RGBA — on
   both codec sides, both interlace modes.  PNG is lossless, so the
   load-bearing law is EXACT round-trip of the raw samples per color
   type (alpha and palette indices preserved); the RGB-view mapping
   and the header gates (16-bit, unknown type, missing PLTE) are
   pinned alongside.
4. bench.py credibility loop (VERDICT #2): co-tenant re-run threshold
   default 0.2 cores and the fixture pre-read that warms the page
   cache before any measured pass.
"""

from __future__ import annotations

import pathlib
import re
import struct
import zlib

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]


# ------------------------------------------------------------------ #
# 1. jpeg_codec split keeps its import paths
# ------------------------------------------------------------------ #


def test_jpeg_codec_split_reexports():
    """The JPEG codec pair moved to jpeg_codec.py; multimodal.py
    re-exports the public names (the theta_store shim precedent), and
    jpeg_codec never imports multimodal (no circularity — the import
    runs one direction only)."""
    import big_data_table_spark.functions.jpeg_codec as J
    import big_data_table_spark.functions.multimodal as M

    for name in ("encode_jpeg", "encode_jpeg_progressive", "decode_jpeg"):
        assert getattr(M, name) is getattr(J, name), name
    src = pathlib.Path(J.__file__).read_text()
    assert not re.search(
        r"^from \.multimodal import|^import .*\.multimodal", src, re.M
    ), "jpeg_codec must not import multimodal (circularity)"


def test_module_line_budget_after_split():
    """Both halves of the r15 split hold well under the repo's 2.5k
    module budget (the r13->r14 catalog.py lesson: split BEFORE the
    budget forces it)."""
    for rel in (
        "big_data_table_spark/functions/multimodal.py",
        "big_data_table_spark/functions/jpeg_codec.py",
    ):
        n = len((REPO / rel).read_text().splitlines())
        assert n <= 2400, f"{rel}: {n} lines — split again before 2500"


# ------------------------------------------------------------------ #
# 2. r14 ADVICE: multi-scan baseline JPEG raises
# ------------------------------------------------------------------ #


def test_multiscan_baseline_jpeg_raises():
    """A legal baseline JPEG may carry non-interleaved per-component
    scans (ns < ncomp, T.81 B.2.3); the sequential MCU loop assumes one
    interleaved scan, so such a stream must RAISE — not decode the
    single scan as if interleaved and return silently wrong pixels
    (r14 ADVICE).  Build one by rewriting a real stream's SOS header
    to cover only the first component."""
    from big_data_table_spark.functions.jpeg_codec import (
        decode_jpeg,
        encode_jpeg,
    )

    blob = encode_jpeg(16, 8, bytes(16 * 8 * 3))
    pos = blob.find(b"\xff\xda")
    assert pos > 0
    (seglen,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
    ns = blob[pos + 4]
    assert ns == 3
    # one-component SOS: ns=1 + the first (cid, sel) pair + Ss Se AhAl
    new_payload = bytes([1]) + blob[pos + 5 : pos + 7] + blob[pos + 2 + seglen - 3 : pos + 2 + seglen]
    new_sos = b"\xff\xda" + struct.pack(">H", 2 + len(new_payload)) + new_payload
    patched = blob[:pos] + new_sos + blob[pos + 2 + seglen :]
    with pytest.raises(ValueError, match="multi-scan baseline not supported"):
        decode_jpeg(patched)


# ------------------------------------------------------------------ #
# 3. PNG color types
# ------------------------------------------------------------------ #

_PAL16 = bytes(b for k in range(16) for b in (16 * k, 16 * k + 5, 16 * k + 10))


def _typed_pixels(ct: int, bpp: int, w: int, h: int, seed: int) -> bytes:
    if ct == 3:
        return bytes((i * 7 + seed) % 16 for i in range(w * h))
    return bytes((i * 7 + 13 + seed) % 256 for i in range(bpp * w * h))


def test_png_color_types_roundtrip_lossless():
    """THE load-bearing law: PNG is lossless, so every (color type,
    bit depth) round-trips its RAW samples exactly — alpha bytes
    preserved, palette indices preserved, big-endian 16-bit samples
    byte-identical — in BOTH interlace modes (the Adam7 scatter now
    runs at every pixel width), across filter-seed cycles and sizes
    down to 1x1 (six empty passes)."""
    from big_data_table_spark.functions.multimodal import (
        _PNG_CHANNELS,
        decode_png_samples,
        encode_png,
    )

    combos = [(ct, ch, 8) for ct, ch in sorted(_PNG_CHANNELS.items())]
    combos += [(ct, ch, 16) for ct, ch in sorted(_PNG_CHANNELS.items()) if ct != 3]
    for ct, channels, depth in combos:
        bpp = channels * (depth // 8)
        for w, h in [(1, 1), (3, 2), (8, 8), (9, 5), (16, 9)]:
            for seed in (0, 3):
                for interlace in (False, True):
                    px = _typed_pixels(ct, bpp, w, h, seed)
                    blob = encode_png(
                        w, h, px,
                        filter_seed=seed,
                        interlace=interlace,
                        color_type=ct,
                        palette=_PAL16 if ct == 3 else None,
                        bit_depth=depth,
                    )
                    dw, dh, dct, dd, pal, samples = decode_png_samples(blob)
                    assert (dw, dh, dct, dd) == (w, h, ct, depth), (
                        ct, depth, w, h, seed, interlace,
                    )
                    assert samples == px, (ct, depth, w, h, seed, interlace)
                    if ct == 3:
                        assert pal == _PAL16


def test_png_rgb_view_mapping():
    """The RGB view of each layout: grayscale replicates luma, palette
    dereferences PLTE, gray+alpha and RGBA DROP alpha (documented —
    alpha-preserving callers use decode_png_samples), RGB passes
    through; and decode_image reports the spec mode per color type."""
    from big_data_table_spark.functions.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    w, h = 4, 3
    gray = bytes(range(w * h))
    _, _, rgb = decode_png(encode_png(w, h, gray, color_type=0))
    assert rgb == bytes(v for g in gray for v in (g, g, g))

    ga = bytes(range(2 * w * h))
    _, _, rgb = decode_png(encode_png(w, h, ga, color_type=4))
    assert rgb == bytes(v for p in range(w * h) for v in (ga[2 * p],) * 3)

    rgba = bytes(range(4 * w * h))
    _, _, rgb = decode_png(encode_png(w, h, rgba, color_type=6))
    assert rgb == bytes(rgba[4 * p + c] for p in range(w * h) for c in range(3))

    idx = bytes(i % 16 for i in range(w * h))
    _, _, rgb = decode_png(encode_png(w, h, idx, color_type=3, palette=_PAL16))
    assert rgb == bytes(_PAL16[3 * i + c] for i in idx for c in range(3))

    modes = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
    for ct, mode in modes.items():
        bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
        blob = encode_png(
            2, 2, bytes(bpp * 4), color_type=ct,
            palette=_PAL16 if ct == 3 else None,
        )
        assert decode_image(blob) == (2, 2, mode), ct


def test_png_gates():
    """Support gates stay honest and MATCH between the dims-only verb
    and the pixel path: sub-byte depths raise naming the gap, 16-bit
    palette raises (illegal per spec table 11.1 — the r15 16-bit
    landing migrated the old 16-bit-unsupported pin to these two,
    which STAY out of scope), an unknown color type raises, palette
    encode without PLTE raises, an out-of-range palette index raises,
    and a palette stream whose PLTE chunk was stripped raises at
    decode."""
    from big_data_table_spark.functions.multimodal import (
        _png_dims,
        decode_png,
        encode_png,
    )

    def chunk(t: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr4 = struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0)
    for fn in (decode_png, _png_dims):
        with pytest.raises(ValueError, match="4-bit PNG not supported"):
            fn(sig + chunk(b"IHDR", ihdr4))
    ihdr16p = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    for fn in (decode_png, _png_dims):
        with pytest.raises(ValueError, match="16-bit palette PNG is illegal"):
            fn(sig + chunk(b"IHDR", ihdr16p))
    with pytest.raises(ValueError, match="16-bit palette PNG is illegal"):
        encode_png(2, 2, bytes(8), color_type=3, palette=_PAL16, bit_depth=16)
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0)
    for fn in (decode_png, _png_dims):
        with pytest.raises(ValueError, match="unknown PNG color type 5"):
            fn(sig + chunk(b"IHDR", ihdr_bad))
    with pytest.raises(ValueError, match="palette PNG needs"):
        encode_png(2, 2, bytes(4), color_type=3)
    with pytest.raises(ValueError, match="palette index out of range"):
        encode_png(2, 2, bytes([0, 1, 2, 3]), color_type=3, palette=_PAL16[:9])
    with pytest.raises(ValueError, match="palette only valid"):
        encode_png(2, 2, bytes(12), color_type=2, palette=_PAL16)
    # strip PLTE from a legal palette stream -> decode must raise
    blob = encode_png(2, 2, bytes(4), color_type=3, palette=_PAL16)
    pos = blob.find(b"PLTE") - 4
    (plen,) = struct.unpack(">I", blob[pos : pos + 4])
    stripped = blob[:pos] + blob[pos + 12 + plen :]
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(stripped)


def test_png16_rgb_view_and_dims():
    """The RGB8 view of 16-bit streams downshifts each big-endian
    sample by 8 bits before the per-type mapping (the decode_jpeg /
    decode_jpeg12 precision discipline applied to PNG), and the
    dims-only verb + decode_image accept 16-bit headers with the
    same mode strings."""
    import numpy as np

    from big_data_table_spark.functions.multimodal import (
        _png_dims,
        decode_image,
        decode_png,
        encode_png,
    )

    w, h = 4, 3
    rng = np.random.default_rng(3)
    for ct, channels, mode in [(0, 1, "L"), (2, 3, "RGB"), (4, 2, "LA"), (6, 4, "RGBA")]:
        samples = rng.integers(0, 65536, size=channels * w * h).astype(">u2")
        blob = encode_png(
            w, h, samples.tobytes(), color_type=ct, bit_depth=16, interlace=True
        )
        assert _png_dims(blob) == (w, h, ct)
        assert decode_image(blob) == (w, h, mode)
        dw, dh, rgb = decode_png(blob)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
        hi = (samples >> 8).astype(np.uint8).reshape(w * h, channels)
        if ct == 0:
            want = np.repeat(hi, 3, axis=1)
        elif ct == 2:
            want = hi
        elif ct == 4:
            want = np.repeat(hi[:, :1], 3, axis=1)
        else:
            want = hi[:, :3]
        assert (dw, dh) == (w, h) and np.array_equal(got, want), ct


def test_png_rgb8_signature_back_compat():
    """The historical RGB8 call shape is untouched: positional
    encode_png(w, h, rgb) still emits color type 2 and decode_png
    still returns (w, h, rgb) — the r5/r14 law tests run against the
    same bytes-in/bytes-out contract."""
    from big_data_table_spark.functions.multimodal import decode_png, encode_png

    px = bytes((i * 7 + 13) % 256 for i in range(3 * 5 * 4))
    assert decode_png(encode_png(5, 4, px)) == (5, 4, px)
    blob = encode_png(5, 4, px)
    assert blob[16 + 9] == 2  # IHDR color-type byte


# ------------------------------------------------------------------ #
# 4. 12-bit (SOF1 extended sequential) JPEG
# ------------------------------------------------------------------ #


def test_jpeg12_even_gray_exact_roundtrip():
    """THE load-bearing 12-bit law: T.81 baseline is 8-bit by
    definition, so 12-bit rides SOF1 — and the r13 exactness argument
    carries to the wider width: block-constant EVEN gray (Cb = Cr =
    2048 exactly, DC-only blocks, tie-free DC quantization with
    Q_Y[0,0] = 16) round-trips BIT-EXACTLY through the full-precision
    decode, across dims, the full 12-bit value range, grayscale
    frames, subsampled grids and restart intervals."""
    import numpy as np

    from big_data_table_spark.functions.jpeg_codec import (
        decode_jpeg12,
        encode_jpeg,
    )

    for w, h in [(8, 8), (16, 8), (24, 16)]:
        bx, by = w // 8, h // 8
        img = np.zeros((h, w, 3), dtype=np.uint16)
        for j in range(by):
            for i in range(bx):
                img[8 * j : 8 * j + 8, 8 * i : 8 * i + 8, :] = (
                    2 * (((j * bx + i) * 321 + 7) % 2048)
                )
        blob = encode_jpeg(w, h, img.astype("<u2").tobytes(), precision=12)
        dw, dh, out = decode_jpeg12(blob)
        dec = np.frombuffer(out, dtype="<u2").reshape(h, w, 3)
        assert (dw, dh) == (w, h) and np.array_equal(dec, img), (w, h)
    # grayscale frame + restart interval, full-range value
    g = np.full((8, 16, 3), 4094, dtype=np.uint16)
    blob = encode_jpeg(
        16, 8, g.astype("<u2").tobytes(),
        precision=12, grayscale=True, restart_interval=1,
    )
    dec = np.frombuffer(decode_jpeg12(blob)[2], dtype="<u2").reshape(8, 16, 3)
    assert (dec == 4094).all()
    # 4:2:0 subsampled grid, MCU-constant even gray
    img = np.zeros((16, 32, 3), dtype=np.uint16)
    img[:, :16], img[:, 16:] = 2048, 2056
    blob = encode_jpeg(32, 16, img.astype("<u2").tobytes(), precision=12, subsample=True)
    dec = np.frombuffer(decode_jpeg12(blob)[2], dtype="<u2").reshape(16, 32, 3)
    assert np.array_equal(dec, img)


def test_jpeg12_tolerance_and_8bit_view():
    """General 12-bit content holds the quantization-error bound (the
    Annex-K tables cap any coefficient error), and decode_jpeg of a
    12-bit stream is the 4-bit-downshifted view of the full-precision
    decode — the PNG RGB-view discipline applied to JPEG precision."""
    import numpy as np

    from big_data_table_spark.functions.jpeg_codec import (
        decode_jpeg,
        decode_jpeg12,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 4096, size=(16, 24, 3)).astype(np.uint16)
    blob = encode_jpeg(24, 16, img.astype("<u2").tobytes(), precision=12)
    w, h, out = decode_jpeg12(blob)
    full = np.frombuffer(out, dtype="<u2").reshape(16, 24, 3)
    assert np.abs(full.astype(int) - img.astype(int)).max() < 1200
    view = np.frombuffer(decode_jpeg(blob)[2], dtype=np.uint8).reshape(16, 24, 3)
    assert np.array_equal(view, (full >> 4).astype(np.uint8))


def test_jpeg12_gates_and_16bit_dqt():
    """Support gates: precision requests other than 8/12 raise,
    out-of-range 12-bit samples raise, a 12-bit SOF0 raises (baseline
    is 8-bit by definition), a 12-bit SOF2 raises (progressive stays
    8-bit scope), decode_jpeg12 of an 8-bit stream raises, the SOF3
    message still names baseline (the r14 pin's anchor), and _jpeg_dims
    matches every one of decode_jpeg's verdicts.  Plus: a 16-bit
    (Pq=1) DQT — legal in 12-bit streams from third-party encoders —
    parses to the same tables as the 8-bit emission."""
    import numpy as np

    from big_data_table_spark.functions.jpeg_codec import (
        decode_jpeg,
        decode_jpeg12,
        encode_jpeg,
    )
    from big_data_table_spark.functions.multimodal import _jpeg_dims

    with pytest.raises(ValueError, match="unsupported sample precision"):
        encode_jpeg(2, 2, bytes(24), precision=10)
    with pytest.raises(ValueError, match="12-bit samples must be"):
        encode_jpeg(
            8, 8, np.full((8, 8, 3), 4096, dtype="<u2").tobytes(), precision=12
        )
    img = np.full((8, 8, 3), 2050, dtype="<u2")
    blob12 = encode_jpeg(8, 8, img.tobytes(), precision=12)
    assert blob12.count(b"\xff\xc1") >= 1 and b"\xff\xc0" not in blob12[:200]
    sof0_12 = blob12.replace(b"\xff\xc1", b"\xff\xc0", 1)
    for fn in (decode_jpeg, _jpeg_dims):
        with pytest.raises(ValueError, match="baseline .SOF0. frames are 8-bit"):
            fn(sof0_12)
    sof2_12 = blob12.replace(b"\xff\xc1", b"\xff\xc2", 1)
    for fn in (decode_jpeg, _jpeg_dims):
        with pytest.raises(ValueError, match="12-bit progressive"):
            fn(sof2_12)
    blob8 = encode_jpeg(16, 8, bytes(16 * 8 * 3))
    with pytest.raises(ValueError, match="8-bit stream"):
        decode_jpeg12(blob8)
    lossless = blob8.replace(b"\xff\xc0", b"\xff\xc3", 1)
    for fn in (decode_jpeg, _jpeg_dims):
        with pytest.raises(ValueError, match="baseline"):
            fn(lossless)
    # 8-bit frames ride SOF1 too (extended sequential allows both):
    # patching the marker alone decodes identically
    assert decode_jpeg(blob8.replace(b"\xff\xc0", b"\xff\xc1", 1)) == decode_jpeg(blob8)
    # Pq=1 DQT: widen both table segments to 16-bit entries in place
    patched, pos = blob12, 0
    for _ in range(2):
        pos = patched.find(b"\xff\xdb", pos)
        (seglen,) = struct.unpack(">H", patched[pos + 2 : pos + 4])
        assert seglen == 2 + 65  # one 8-bit table per segment
        tid = patched[pos + 4]
        entries = patched[pos + 5 : pos + 5 + 64]
        wide = bytes([0x10 | tid]) + b"".join(
            struct.pack(">H", v) for v in entries
        )
        patched = (
            patched[:pos]
            + b"\xff\xdb" + struct.pack(">H", 2 + len(wide)) + wide
            + patched[pos + 2 + seglen :]
        )
        pos += 4 + len(wide)  # resume past the rewritten segment
    assert decode_jpeg12(patched) == decode_jpeg12(blob12)


# ------------------------------------------------------------------ #
# 5. bench credibility loop
# ------------------------------------------------------------------ #


def test_bench_cotenant_threshold_and_preread():
    """VERDICT r14 #2: the re-run threshold default fell 0.5 -> 0.2
    (the known-bad runs read 0.29-0.45 and slipped under 0.5; idle
    floor ~0.03) and the warm-up pre-reads every fixture byte so the
    artifact measures compute, not the page-cache lottery."""
    import bench

    src = pathlib.Path(bench.__file__).read_text()
    m = re.search(r'SPARK_GRAFT_COTENANT_CORES", "([0-9.]+)"', src)
    assert m and float(m.group(1)) == 0.2
    # the pre-read runs BEFORE the measurement loop and lands in the
    # artifact as preread_mb + buff_cache_warm_gb
    assert src.index("_preread_fixtures(sf_dir)") < src.index("= _measure_pass(")
    assert '"preread_mb"' in src and '"buff_cache_warm_gb"' in src
    mb = bench._preread_fixtures("/root/testdata/sf0.001")
    assert mb > 0
