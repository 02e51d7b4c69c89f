"""REAL multimodal codecs (stdlib+numpy WAV / BMP) — decoded-value
checks against byte-exact synthesized media, plus corrupt-blob
robustness (decode_ok=false rows, never task failures)."""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

from gmall_spark.operators import multimodal as M


def make_wav(samples, rate=8000, n_ch=1, width=2) -> bytes:
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(n_ch)
    w.setsampwidth(width)
    w.setframerate(rate)
    fmt = {1: "B", 2: "h", 4: "i"}[width]
    w.writeframes(struct.pack(f"<{len(samples)}{fmt}", *samples))
    w.close()
    return buf.getvalue()


def make_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> uncompressed 24-bit bottom-up BMP."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = b""
    for y in reversed(range(h)):
        row = pixels[y][:, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + info + rows


def test_wav_decode_exact_stats(spark):
    square = [1000, -1000] * 4000  # 1 s @ 8 kHz, RMS exactly 1000
    rows = [
        (1, make_wav(square)),
        (2, make_wav([128 + 50, 128 - 50] * 100, rate=4000, n_ch=2, width=1)),
        (3, b"not a wav at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.decode_wav(df).collect()}
    a = got[1]
    assert a.decode_ok and a.sample_rate == 8000 and a.n_channels == 1
    assert a.bit_depth == 16 and a.n_samples == 8000
    assert a.duration_ms == 1000.0 and a.rms == 1000.0 and a.peak == 1000
    b = got[2]  # 8-bit unsigned, centered at 128 -> |sample| = 50
    assert b.decode_ok and b.n_channels == 2 and b.bit_depth == 8
    assert b.n_samples == 100 and b.rms == 50.0 and b.peak == 50
    assert not got[3].decode_ok and got[3].sample_rate is None


def test_bmp_decode_exact_means_with_row_padding(spark):
    # width 3 -> 9-byte rows padded to 12: exercises the stride path
    solid = np.full((2, 3, 3), (10, 20, 30), dtype=np.uint8)
    grad = np.zeros((4, 8, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(8, dtype=np.uint8) * 30  # R ramps by column
    rows = [(1, make_bmp(solid)), (2, make_bmp(grad)), (3, b"BMbogus")]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.decode_bmp(df).collect()}
    a = got[1]
    assert a.decode_ok and (a.width, a.height, a.bpp) == (3, 2, 24)
    assert (a.mean_r, a.mean_g, a.mean_b) == (10.0, 20.0, 30.0)
    b = got[2]
    assert b.decode_ok and (b.width, b.height) == (8, 4)
    assert b.mean_r == float(np.mean(np.arange(8) * 30))
    assert not got[3].decode_ok


def test_bmp_resize_real_is_deterministic_and_content_sensitive(spark):
    img1 = np.zeros((4, 8, 3), dtype=np.uint8)
    img1[:, :, 1] = 200
    img2 = img1.copy()
    img2[0, 0, 1] = 0  # pixel kept by nearest-neighbor (index 0 maps to 0)
    rows = [(1, make_bmp(img1)), (2, make_bmp(img2)), (1000, make_bmp(img1))]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.resize_bmp_real(df, target_w=4).collect()}
    a = got[1]
    assert a.decode_ok and (a.src_width, a.src_height) == (8, 4)
    assert (a.out_width, a.out_height) == (4, 2)
    assert a.resized_sha256 == got[1000].resized_sha256  # same bytes, same hash
    assert a.resized_sha256 != got[2].resized_sha256  # content-sensitive


def make_png(img: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Minimal in-test PNG encoder (stdlib zlib) so the decoder is
    checked against known pixels; ``filters`` picks each scanline's
    filter type to exercise Sub/Up/Average/Paeth reconstruction."""
    import struct
    import zlib

    h, w, ch = img.shape
    ctype = 2 if ch == 3 else 6
    filters = filters or [0] * h

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y, ft in zip(range(h), filters):
        line = img[y].reshape(-1).astype(np.int16)
        raw.append(ft)
        for x in range(w * ch):
            a = int(line[x - ch]) if x >= ch else 0
            up = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            pred = {0: 0, 1: a, 2: up, 3: (a + up) // 2, 4: paeth(a, up, c)}[ft]
            raw.append((int(line[x]) - pred) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_exact_means_all_filter_types(spark):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8).astype(np.uint8)
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8).astype(np.uint8)
    rows = [
        (1, make_png(img)),  # all filter-0 rows
        (2, make_png(img, filters=[0, 1, 2, 3, 4])),  # every filter type
        (3, make_png(rgba)),  # RGBA
        (4, b"\x89PNG\r\n\x1a\nbogus"),  # corrupt
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.decode_png(df).collect()}
    want = img.reshape(-1, 3).mean(axis=0)
    for did in (1, 2):
        r = got[did]
        assert r.decode_ok and (r.width, r.height, r.channels) == (6, 5, 3)
        assert (r.mean_r, r.mean_g, r.mean_b) == tuple(round(float(x), 6) for x in want)
    r = got[3]
    wanta = rgba.reshape(-1, 4).mean(axis=0)
    assert r.decode_ok and r.channels == 4
    assert (r.mean_r, r.mean_g, r.mean_b) == tuple(round(float(x), 6) for x in wanta[:3])
    assert not got[4].decode_ok


def test_wav_frame_features_hand_computed(spark):
    """X122 frame features on synthesized PCM with hand-computable
    values: a 1 s 8 kHz mono stream whose first 250 ms frame is a
    full-scale square wave (rms = full scale, zcr high, clipped),
    second frame silence (rms 0, silent), third a +/-100 square
    (voiced-ish, not clipped), fourth a constant DC 50 (zcr 0)."""
    import math

    from gmall_spark.operators import multimodal as M

    rate, flen = 8000, 2000  # 250 ms frames
    f1 = [32767, -32767] * (flen // 2)
    f2 = [0] * flen
    f3 = [100, -100] * (flen // 2)
    f4 = [50] * flen
    blob = make_wav(f1 + f2 + f3 + f4, rate=rate)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    got = {r.frame_idx: r for r in M.wav_frame_features(df).collect()}
    assert sorted(got) == [0, 1, 2, 3]
    assert got[0].rms == 32767.0 and got[0].clipped and not got[0].silent
    assert abs(got[0].zcr - 1.0) < 1e-6  # alternating signs: every gap crosses
    assert got[1].rms == 0.0 and got[1].silent and not got[1].clipped
    assert got[2].rms == 100.0 and not got[2].clipped and not got[2].silent
    assert got[3].zcr == 0.0 and got[3].rms == 50.0
    assert got[2].start_ms == 500.0 and got[3].start_ms == 750.0
    # stereo averaging + trailing partial frame: 2 ch, 0.3 s at 4 kHz
    # -> frames of 1000 samples: one full + one 200-sample partial
    sr2 = 4000
    left = [200] * 1200
    right = [-100] * 1200
    inter = [v for lr in zip(left, right) for v in lr]
    blob2 = make_wav(inter, rate=sr2, n_ch=2)
    got2 = {r.frame_idx: r for r in M.wav_frame_features(
        spark.createDataFrame([(2, bytearray(blob2))], "doc_id long, blob binary")
    ).collect()}
    assert sorted(got2) == [0, 1]
    assert got2[0].rms == 50.0  # mono mean of (200, -100)
    assert got2[1].start_ms == 250.0
    # undecodable blob: contributes nothing
    bad = spark.createDataFrame([(3, bytearray(b"nope"))], "doc_id long, blob binary")
    assert M.wav_frame_features(bad).count() == 0


def make_avi(frames: list[np.ndarray], width: int, height: int) -> bytes:
    """list of (h, w, 3) uint8 RGB frames -> real RIFF/AVI with
    uncompressed bottom-up BGR DIB frame chunks (independent of the
    production writer so the two implementations cross-check)."""
    stride = (width * 3 + 3) // 4 * 4

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    bodies = []
    for f in frames:
        rows = b""
        for y in reversed(range(height)):
            row = f[y][:, ::-1].tobytes()  # RGB -> BGR
            rows += row + b"\x00" * (stride - len(row))
        bodies.append(rows)
    avih = struct.pack("<10I", 40000, 0, 0, 0, len(frames), 0, 1, 0, width, height) + b"\x00" * 16
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00db", r) for r in bodies))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_frame_sample_hand_computed(spark):
    """X123 on a hand-built container with NON-solid pixels: per-frame
    means must equal the numpy reference; every=2 must skip frame 1;
    the 5x3 width exercises stride padding and the bottom-up flip."""
    w, h = 5, 3
    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8) for _ in range(3)]
    blob = make_avi(frames, w, h)
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    got = {r.frame_idx: r for r in M.avi_frame_sample(df, every=2).collect()}
    assert sorted(got) == [0, 2]  # frame 1 skipped, never decoded
    for i in (0, 2):
        want = frames[i].reshape(-1, 3).mean(axis=0)
        r = got[i]
        assert r.n_frames == 3 and r.width == w and r.height == h
        assert (r.mean_r, r.mean_g, r.mean_b) == tuple(round(float(x), 6) for x in want)
    # malformed: contributes no rows
    bad = spark.createDataFrame([(2, bytearray(b"RIFFxxxxJUNK"))], "doc_id long, blob binary")
    assert M.avi_frame_sample(bad).count() == 0


def test_synth_avi_round_trip_closed_form(spark):
    """The production writer's containers parse back through the
    production reader to the oracle's closed form."""
    docs = spark.createDataFrame([(100,), (101,), (302,)], "doc_id long")
    got = M.avi_frame_sample(M.synth_avi_blobs(docs), every=2).collect()
    # n_frames = 4 + doc_id%3 -> 5, 6, 6; every=2 samples 0,2,4 from each
    assert {(r.doc_id, r.frame_idx) for r in got} == {
        (d, i) for d in (100, 101, 302) for i in (0, 2, 4)
    }
    for r in got:
        assert r.mean_r == float((r.doc_id + r.frame_idx) % 256)
        assert r.mean_g == float((2 * r.frame_idx) % 256)
        assert r.mean_b == 17.0


def test_vad_segments_hand_computed(spark):
    """X132 run merging on the hand-computed frame fixture: frames
    (loud, silent, voiced, dc) -> two segments, the second spanning
    frames 2-3 with mean rms (100+50)/2."""
    from gmall_spark.operators import multimodal as M

    rate, flen = 8000, 2000
    samples = (
        [32767, -32767] * (flen // 2)  # frame 0: loud
        + [0] * flen                   # frame 1: silent
        + [100, -100] * (flen // 2)    # frame 2: voiced
        + [50] * flen                  # frame 3: dc, non-silent
    )
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(samples, rate=rate)))], "doc_id long, blob binary"
    )
    got = {
        r.first_frame: r
        for r in M.vad_segments(M.wav_frame_features(df)).collect()
    }
    assert sorted(got) == [0, 2]
    assert got[0].n_frames == 1 and got[0].seg_start_ms == 0.0
    assert got[0].mean_rms == 32767.0
    assert got[2].n_frames == 2 and got[2].seg_start_ms == 500.0
    assert got[2].mean_rms == 75.0


# --- image perceptual hashing (X135/X136) -----------------------------------


def test_image_hashes_hand_computed(spark):
    """aHash/dHash bit conventions pinned against hand-computed bytes."""
    # 9x8 grayscale ramp: gray(x, y) = 10*x  ->  every dHash bit is 1
    # (gray strictly increases left to right), so dhash_hex is all ff.
    ramp = np.zeros((8, 9, 3), dtype=np.uint8)
    for x in range(9):
        ramp[:, x, :] = 10 * x
    # 8x8: first 12 pixels white (fill level q=12): aHash = prefix mask
    fill = np.zeros((8, 8, 3), dtype=np.uint8)
    fill.reshape(-1, 3)[:12] = 255
    rows = [(1, make_bmp(ramp)), (2, make_bmp(fill)), (3, b"junk")]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.image_hashes(df).collect()}
    a = got[1]
    assert a.decode_ok and (a.width, a.height) == (9, 8)
    assert a.dhash_hex == "ff" * 8
    assert a.dhash_bytes == [255] * 8
    # aHash of the left 8x8 of the ramp: mean = 35, bits set for x >= 4
    # -> each row byte is 00001111 = 0x0f
    assert a.ahash_hex == "0f" * 8
    b = got[2]
    # q=12: row 0 fully white (0xff), row 1 first 4 white (0xf0), rest 0
    assert b.ahash_hex == "fff0" + "00" * 6
    assert b.dhash_hex is None and b.dhash_bytes is None  # width < 9
    assert b.gray_mean == round(12 * 255 / 64, 6)
    assert not got[3].decode_ok


def test_image_near_dup_groups_hamming_boundary(spark):
    """Grouping keeps Hamming <= 2 pairs (via some shared 16-bit band)
    and drops Hamming 3; identical fingerprints collapse exact-tier."""
    base = [0xAA] * 8
    one = [0xAB] + [0xAA] * 7          # Hamming 1 vs base (band 0 differs)
    three = [0xAA] * 7 + [0xA5]        # last byte flips 4 bits -> Hamming 4
    far = [0x00] * 8
    def hexs(bs):
        return "".join(f"{v:02x}" for v in bs)
    rows = [
        (1, True, 9, 8, 1.0, None, hexs(base), base),
        (2, True, 9, 8, 1.0, None, hexs(base), base),   # exact dup of 1
        (3, True, 9, 8, 1.0, None, hexs(one), one),     # near dup (H=1)
        (4, True, 9, 8, 1.0, None, hexs(three), three), # H=4: own group
        (5, True, 9, 8, 1.0, None, hexs(far), far),     # own group
        (6, False, None, None, None, None, None, None), # undecodable: dropped
    ]
    df = spark.createDataFrame(rows, M.IMG_HASH_SCHEMA)
    got = {r.doc_id: r for r in M.image_near_dup_groups(df, max_hamming=2).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1].rep_id == got[2].rep_id == got[3].rep_id == 1
    assert got[1].group_size == 3
    assert got[4].rep_id == 4 and got[4].group_size == 1
    assert got[5].rep_id == 5 and got[5].group_size == 1


def test_seeded_corpus_separation():
    """The 97 seed-class dHashes are pairwise far apart (min Hamming
    16 — asserted exactly so a drifting formula is caught), computed
    straight from the md5 gray formula, independent of the codec."""
    import hashlib
    import itertools

    def dhash_bits(seed: int) -> int:
        bits = 0
        for r in range(8):
            for x in range(8):
                g0 = hashlib.md5(f"{seed}:{x}:{r}".encode()).digest()[0]
                g1 = hashlib.md5(f"{seed}:{x + 1}:{r}".encode()).digest()[0]
                bits = (bits << 1) | (1 if g1 > g0 else 0)
        return bits
    hs = [dhash_bits(s) for s in range(97)]
    assert len(set(hs)) == 97
    mn = min(bin(a ^ b).count("1") for a, b in itertools.combinations(hs, 2))
    assert mn == 16


def test_image_pipeline_end_to_end_seeded(spark):
    """synth(seeded) -> real BMP decode -> dHash -> groups == seed classes."""
    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id bigint")
    out = M.image_near_dup_groups(
        M.image_hashes(M.synth_bmp_blobs(docs, mode="seeded")), max_hamming=2
    )
    rows = out.collect()
    assert len(rows) == 300
    for r in rows:
        assert r.rep_id == r.doc_id % 97
        assert r.group_size == (4 if r.doc_id % 97 < 9 else 3)  # 300 = 3*97 + 9


def test_wav_spectral_hand_built_tones(spark):
    """Spectral features (X141) on hand-built PCM: exact-bin tone
    recovered (bin, hz, amplitude), stereo downmixes before the FFT,
    silence yields NULLs, corrupt blobs decode_ok=false."""
    t = np.arange(2000)
    tone = np.round(700 * np.sin(2 * np.pi * 303 * t / 2000)).astype(int)
    rows = [
        (1, make_wav(list(tone))),                       # bin 303 @ 8 kHz
        (2, make_wav([0] * 2000)),                       # silence
        (3, make_wav([v for v in tone for _ in (0, 1)],  # same tone, stereo
                     n_ch=2)),
        (4, b"RIFFnope"),
        (5, make_wav([5, -5] * 100)),                    # too short (< 2000)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    got = {r.doc_id: r for r in M.wav_spectral_features(df).collect()}
    a = got[1]
    assert a.decode_ok and a.n_samples == 2000
    assert (a.dominant_bin, a.dominant_hz, a.amp_est) == (303, 1212, 700)
    s = got[2]
    assert s.decode_ok and s.dominant_bin is None and s.amp_est is None
    st = got[3]
    assert st.decode_ok and st.dominant_bin == 303 and st.amp_est == 700
    assert not got[4].decode_ok
    assert not got[5].decode_ok  # shorter than one frame


def test_image_near_dup_rejects_radius_beyond_pigeonhole(spark):
    """max_hamming > 3 would silently lose true pairs (4 bands only
    pigeonhole up to 3 flipped bands) — the operator must refuse."""
    import pytest

    df = spark.createDataFrame([], M.IMG_HASH_SCHEMA)
    with pytest.raises(ValueError, match="pigeonhole"):
        M.image_near_dup_groups(df, max_hamming=4)


def test_image_phash_sees_through_brightness_and_scale(spark):
    """X177 planted fixture: all three variants of a class (base,
    +24 brightness, 2x upscale) must produce the IDENTICAL closed-form
    pHash — while dHash, which reads raw top-left pixels, assigns the
    upscaled copy a different fingerprint (the blind spot the DCT tier
    exists to close)."""
    from gmall_spark.operators import multimodal as M

    # doc_ids 5, 34, 63 = class 5 with variants 0, 1, 2
    ids = [5, 5 + 29, 5 + 58]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    blobs = M.synth_phash_bmp_blobs(docs)
    ph = {r.doc_id: r for r in M.image_phash(blobs).collect()}
    want = M.phash_hex_for_class(5)
    assert all(ph[i].decode_ok for i in ids)
    assert {ph[i].phash_hex for i in ids} == {want}
    assert (ph[5].width, ph[5 + 58].width) == (32, 64)

    dh = {r.doc_id: r for r in M.image_hashes(blobs).collect()}
    assert dh[5].dhash_hex == dh[5 + 29].dhash_hex  # brightness: monotone-safe
    assert dh[5 + 58].dhash_hex != dh[5].dhash_hex  # scale: dHash misses it


def test_image_phash_groups_recover_classes_exactly(spark):
    """X177 grouping precision 1.0: over several classes x all three
    variants, the pHash groups are EXACTLY the planted classes —
    nothing merged across classes (min cross-class Hamming 20),
    nothing split within one."""
    from gmall_spark.operators import multimodal as M

    ids = [c + 29 * v for c in (0, 7, 11, 28) for v in range(3)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r.doc_id: (r.rep_id, r.group_size)
        for r in M.image_phash_near_dup_groups(
            M.image_phash(M.synth_phash_bmp_blobs(docs))
        ).collect()
    }
    assert got == {c + 29 * v: (c, 3) for c in (0, 7, 11, 28) for v in range(3)}


def test_phash_class_separation():
    """Pure closed form: the 29 planted sign patterns keep a min
    pairwise Hamming of 20 — far above the max_hamming=2 grouping
    radius AND the 4-band pigeonhole bound."""
    from gmall_spark.operators import multimodal as M

    hexes = [M.phash_hex_for_class(c) for c in range(M.PHASH_CLASSES)]
    mh = min(
        bin(int(a, 16) ^ int(b, 16)).count("1")
        for i, a in enumerate(hexes)
        for b in hexes[i + 1:]
    )
    assert mh == 20


def test_image_phash_rejects_non_canvas_sizes(spark):
    """An image the canvas normalization cannot express (not an
    integer multiple of 32) is decode_ok=False, never a silently
    incomparable hash."""
    import numpy as np

    from gmall_spark.operators import multimodal as M

    img = np.full((40, 40, 3), 99, dtype=np.uint8)
    df = spark.createDataFrame([(1, M._encode_bmp(img))], "doc_id bigint, blob binary")
    r = M.image_phash(df).collect()[0]
    assert r.decode_ok is False and r.phash_hex is None
    assert (r.width, r.height) == (40, 40)


def _melody_wav(bins, amp=300, n=2000, rate=8000):
    """A WAV of pure on-bin tones, one frame per entry of ``bins``."""
    t = np.arange(n)
    frames = [
        np.round(amp * np.sin(2 * np.pi * (k * rate // n) * t / rate))
        for k in bins
    ]
    pcm = np.concatenate(frames).astype(np.int16)
    return make_wav((pcm + 0).tolist(), rate=rate)


def test_audio_fingerprint_extraction_matches_closed_form(spark):
    """X197: the real decode -> rfft -> landmark chain recovers the
    planted pair-hash set and digest for melody classes, at two very
    different amplitudes (loudness invariance), and an undecodable
    blob carries NULLs."""
    from gmall_spark.operators import multimodal as M

    rows = []
    for i, (cls, amp) in enumerate([(0, 120), (0, 950), (7, 500)]):
        rows.append((i, bytearray(_melody_wav(M.melody_bins(cls), amp=amp))))
    rows.append((99, bytearray(b"not audio")))
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r.doc_id: r for r in M.wav_peak_pair_fingerprints(df).collect()}
    for i, cls in [(0, 0), (1, 0), (2, 7)]:
        assert list(got[i].pair_hashes) == M.pair_hashes_for_bins(
            M.melody_bins(cls)
        )
        assert got[i].fp_hex == M.melody_fp_hex(cls)
    assert got[0].fp_hex == got[1].fp_hex  # loudness never enters a hash
    assert not got[99].decode_ok and got[99].fp_hex is None


def test_audio_near_dup_band_join_containment(spark):
    """The band-join near tier actually fires (not just the exact
    tier the in-corpus oracle exercises): a one-frame edit keeps 3/5
    landmarks (containment 0.6 -> grouped), a two-frame edit keeps
    1/5 (-> separate group), and an unrelated melody with zero shared
    landmarks never becomes a candidate (precision 1.0)."""
    from gmall_spark.operators import multimodal as M

    base = M.melody_bins(0)                      # [101, 103, 107, 109]
    one_edit = base[:3] + [base[3] + 30]         # last frame changed
    two_edit = base[:2] + [base[2] + 30, base[3] + 34]
    other = M.melody_bins(5)                     # disjoint bins
    rows = [
        (1, bytearray(_melody_wav(base))),
        (2, bytearray(_melody_wav(one_edit, amp=800))),
        (3, bytearray(_melody_wav(two_edit))),
        (4, bytearray(_melody_wav(other))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r.doc_id: (r.rep_id, r.group_size)
           for r in M.audio_near_dup_groups(
               M.wav_peak_pair_fingerprints(df)
           ).collect()}
    assert got[1] == (1, 2) and got[2] == (1, 2)   # near-dup grouped
    assert got[3] == (3, 1)                        # too-far edit alone
    assert got[4] == (4, 1)                        # unrelated alone


def test_shot_boundaries_value_exact_and_corrupt_blob(spark):
    """X212 detector at the codec grain: on a planted two-shot
    container the adjacent-pair diffs are value-exact (drift pair
    reads 3*w*h, the cut pair (SHOT_JUMP+3)*w*h) and only the cut is
    flagged; a corrupted blob (truncated mid-header) contributes no
    rows instead of failing the task."""
    import pyspark.sql.functions as F

    from gmall_spark.operators import multimodal as M

    docs = spark.createDataFrame([(0,), (1,)], "doc_id long")
    blobs = M.synth_shot_avi_blobs(docs)
    # corrupt doc 1's blob: truncate to 20 bytes (valid RIFF magic,
    # unwalkable body)
    corrupted = blobs.select(
        "doc_id",
        F.when(
            F.col("doc_id") == 1, F.expr("substring(blob, 1, 20)")
        ).otherwise(F.col("blob")).alias("blob"),
    )
    rows = M.avi_shot_boundaries(corrupted).collect()
    assert {r.doc_id for r in rows} == {0}
    by_idx = {r.frame_idx: r for r in rows}
    n_frames = M.SHOT_BASE_FRAMES  # doc 0: 8 frames, cuts at 3 and 6
    assert sorted(by_idx) == list(range(1, n_frames))
    wh = 32 * 8
    for i, r in sorted(by_idx.items()):
        want = (M.SHOT_JUMP + 3 if i in (3, 6) else 3) * wh
        assert r.total_abs_diff == want, (i, r.total_abs_diff, want)
        assert r.is_cut == (i in (3, 6))


def test_shot_boundary_fixture_shared_across_consumers(spark):
    """VERDICT r9 item 2: the X214 rollup must read the SAME
    checkpointed detector output X212 returns — one frame-decode
    pass per (session, sf_dir), not one per consumer. The rollup's
    executed plan therefore contains no Arrow decode stage (it scans
    the checkpoint) and the fixture map holds exactly one entry."""
    from gmall_spark import fixtures_audit
    from gmall_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    Q.clear_cache()
    try:
        bounds = Q.QUERIES["multimodal_shot_boundaries"](spark, sf)
        bounds.count()
        assert len(fixtures_audit.entries("shot_bounds")) == 1
        shots = Q.QUERIES["multimodal_video_shots"](spark, sf)
        plan = shots._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in plan and "MapInPandas" not in plan
        # rollup did NOT rebuild
        assert len(fixtures_audit.entries("shot_bounds")) == 1
        assert shots.count() == bounds.select("doc_id").distinct().count() * 3
    finally:
        Q.clear_cache()
