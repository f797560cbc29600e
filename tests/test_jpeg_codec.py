"""Baseline-JPEG codec tests (multimodal/jpeg.py): spec-level
properties that pin the implementation to ITU-T T.81 rather than to
itself, plus the closed-form constant-roundtrip contract the registry
oracle relies on, plus a cv2 cross-check lane where cv2 is installed
(the same pattern as test_png_codec)."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_exercise_spark.multimodal.jpeg import (
    JpegFormatError,
    constant_roundtrip_value,
    decode_jpeg,
    encode_jpeg,
    scaled_quant_tables,
)
from big_data_exercise_spark.multimodal.png import jpeg_meta


def _gradient(h, w):
    x = np.linspace(0, 1, w)
    y = np.linspace(0, 1, h)
    img = (np.outer(np.sin(y * 3), np.cos(x * 2)) * 100) + 120
    return img.astype(np.uint8)


def test_constant_frames_match_closed_form():
    """The oracle contract: a constant-fill grayscale frame decodes to
    EXACTLY clip(rha(q·rha(8(v−128)/q)/8)+128) — any entropy-coding or
    rounding bug shifts the value. Non-8-multiple dims exercise the
    edge-replication padding (must stay constant)."""
    for v in [0, 1, 3, 17, 127, 128, 129, 200, 250, 255]:
        for shape in [(8, 8), (12, 16), (13, 21), (1, 1), (9, 40)]:
            img = np.full(shape, v, dtype=np.uint8)
            dec = decode_jpeg(encode_jpeg(img, quality=50))
            assert dec.shape == shape
            u = np.unique(dec)
            assert len(u) == 1 and u[0] == constant_roundtrip_value(v), (
                v, shape, u, constant_roundtrip_value(v),
            )


def test_constant_second_roundtrip_is_lossless():
    """After one round-trip the level-shifted value is a multiple of
    the DC quantizer step, so re-encoding at the same quality is
    exact — the property that lets jpeg_pixel_stats chain a resize
    re-encode and keep an integer oracle."""
    for v in [0, 5, 77, 130, 250]:
        img = np.full((12, 20), v, dtype=np.uint8)
        once = decode_jpeg(encode_jpeg(img, quality=50))
        twice = decode_jpeg(encode_jpeg(once, quality=50))
        assert np.array_equal(once, twice)


def test_meta_parser_agrees_with_full_decode():
    gray = encode_jpeg(np.full((24, 40), 9, np.uint8))
    assert jpeg_meta(gray) == (40, 24, 1)
    rgb = encode_jpeg(
        np.dstack([_gradient(24, 40)] * 3), subsampling="4:2:0"
    )
    assert jpeg_meta(rgb) == (40, 24, 3)
    assert decode_jpeg(rgb).shape == (24, 40, 3)


def test_smooth_roundtrip_error_bounds():
    """Lossy, but bounded: smooth content at quality 95 reconstructs
    within a few levels (grayscale tighter than color — the color
    transform adds its own rounding)."""
    g = _gradient(32, 32)
    err = np.abs(
        decode_jpeg(encode_jpeg(g, quality=95)).astype(int) - g.astype(int)
    ).max()
    assert err <= 4, err
    c = np.dstack([g, g[::-1], g[:, ::-1]])
    err_c = np.abs(
        decode_jpeg(encode_jpeg(c, quality=95)).astype(int) - c.astype(int)
    ).max()
    assert err_c <= 12, err_c


def test_subsampled_constant_color_is_exact_shape_and_close():
    const = np.full((20, 30, 3), 77, np.uint8)
    dec = decode_jpeg(encode_jpeg(const, quality=90, subsampling="4:2:0"))
    assert dec.shape == (20, 30, 3)
    assert np.abs(dec.astype(int) - 77).max() <= 4


def test_odd_dimensions_roundtrip_all_modes():
    rng = np.random.default_rng(11)
    for shape, sub in [
        ((7, 9), "4:4:4"),
        ((17, 25, 3), "4:4:4"),
        ((9, 15, 3), "4:2:0"),
        ((16, 16, 3), "4:2:0"),
    ]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=50, subsampling=sub))
        assert dec.shape == img.shape


def test_unsupported_codings_and_garbage_rejected():
    """Arithmetic-coded, lossless and hierarchical SOF markers are
    rejected with a reason naming the coding (progressive SOF2 is now
    a SUPPORTED path); garbage and truncation raise too."""
    for sof, word in [
        (0xCA, "arithmetic"),
        (0xC9, "arithmetic"),
        (0xC3, "lossless"),
        (0xC6, "hierarchical"),
    ]:
        b = bytearray(encode_jpeg(np.full((8, 8), 5, np.uint8)))
        i = b.find(b"\xff\xc0")
        b[i + 1] = sof
        with pytest.raises(JpegFormatError, match=word):
            decode_jpeg(bytes(b))
    with pytest.raises(JpegFormatError):
        decode_jpeg(b"\x00\x01\x02\x03")
    with pytest.raises(JpegFormatError):
        decode_jpeg(encode_jpeg(np.full((16, 16), 5, np.uint8))[:-20])


def test_progressive_decodes_identically_to_baseline():
    """A progressive (SOF2) stream carries the SAME quantized
    coefficients as the baseline stream, just re-ordered into
    successive-approximation + spectral-selection scans — so decode
    must be pixel-IDENTICAL to the baseline decode.  Random content
    exercises dense blocks (ZRL, correction bits); smooth content
    exercises long EOB runs across blocks."""
    rng = np.random.default_rng(5)
    cases = [
        (rng.integers(0, 256, (24, 40)).astype(np.uint8), "4:4:4", 50),
        (rng.integers(0, 256, (17, 25, 3)).astype(np.uint8), "4:4:4", 90),
        (rng.integers(0, 256, (16, 16, 3)).astype(np.uint8), "4:2:0", 75),
        (rng.integers(0, 256, (20, 30, 3)).astype(np.uint8), "4:2:2", 90),
        (_gradient(48, 64), "4:4:4", 30),  # EOB-run heavy
    ]
    g = _gradient(48, 64)
    cases.append((np.dstack([g, g[::-1], g[:, ::-1]]), "4:2:0", 30))
    for img, sub, q in cases:
        base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
        penc = encode_jpeg(img, quality=q, subsampling=sub, progressive=True)
        assert b"\xff\xc2" in penc  # SOF2
        assert penc.count(b"\xff\xda") >= 4  # multiple scans
        assert np.array_equal(decode_jpeg(penc), base), (img.shape, sub, q)


def test_progressive_constant_frames_match_closed_form():
    """The registry-oracle contract extends to the progressive path:
    constant frames decode to the same closed integer form."""
    for v in [0, 17, 127, 128, 200, 255]:
        img = np.full((12, 20), v, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=50, progressive=True))
        assert np.unique(dec).tolist() == [constant_roundtrip_value(v)], v


def test_progressive_restart_markers_roundtrip_identically():
    """DRI inside a progressive stream (what web-crawled camera SOF2
    files carry): every scan restarts each N units — MCUs in the
    interleaved DC scans, blocks in the per-component AC scans — with
    predictors, EOB runs and buffered correction bits flushed at the
    boundary.  Decode must equal both the unframed progressive decode
    and the baseline decode."""
    g = _gradient(48, 64)
    c = np.dstack([g, g[::-1], g[:, ::-1]])
    for img, sub, q in [(g, "4:4:4", 30), (c, "4:2:0", 90)]:
        base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
        for dri in (1, 3, 5):
            framed = encode_jpeg(
                img, quality=q, subsampling=sub,
                progressive=True, restart_interval=dri,
            )
            assert b"\xff\xdd" in framed
            assert any(bytes([0xFF, 0xD0 + i]) in framed for i in range(8))
            assert np.array_equal(decode_jpeg(framed), base), (sub, q, dri)


def test_jpeg_hypothesis_roundtrip_fuzz():
    """Property sweep: any dims × gray/color × subsampling × quality ×
    restart interval must round-trip with the right shape, and the
    progressive stream must decode pixel-identical to the baseline
    stream (the invariant that pins the entire §G.2 path; quality-
    level reconstruction bounds live in the smooth-content test — a
    tight bound is meaningless on random noise)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        color=st.booleans(),
        sub=st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
        q=st.sampled_from([30, 50, 75, 95]),
        dri=st.sampled_from([0, 0, 1, 3]),
        seed=st.integers(0, 2**31),
    )
    def run(h, w, color, sub, q, dri, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.integers(0, 256, shape).astype(np.uint8)
        base_bytes = encode_jpeg(
            img, quality=q, subsampling=sub, restart_interval=dri
        )
        base = decode_jpeg(base_bytes)
        assert base.shape == img.shape
        prog = decode_jpeg(
            encode_jpeg(
                img, quality=q, subsampling=sub,
                progressive=True, restart_interval=dri,
            )
        )
        assert np.array_equal(prog, base), (h, w, color, sub, q, dri)

    run()


def test_jpeg_empty_dims_rejected():
    import struct

    for bad in [(0, 5), (5, 0), (0, 0)]:
        with pytest.raises(ValueError, match="positive"):
            encode_jpeg(np.zeros(bad, np.uint8))
    # and a crafted SOF claiming zero dims must raise JpegFormatError,
    # never leak a raw ZeroDivisionError to the caller
    b = bytearray(encode_jpeg(np.full((8, 8), 5, np.uint8)))
    i = b.find(b"\xff\xc0")
    b[i + 5 : i + 7] = struct.pack(">H", 0)  # SOF height = 0
    with pytest.raises(JpegFormatError, match="zero dimension"):
        decode_jpeg(bytes(b))


def test_truncated_entropy_data_always_raises():
    """The table-driven decoder must never return wrong pixels for a
    truncated stream: reads that consume the zero padding past the
    real data surface as JpegFormatError (end-of-segment bit
    accounting — the final block has no next symbol-start guard)."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32)).astype(np.uint8)
    enc = encode_jpeg(img, quality=75)
    penc = encode_jpeg(img, quality=75, progressive=True)
    for stream in (enc, penc):
        for cut in (3, 8, 16, 32, 64):
            with pytest.raises(JpegFormatError):
                decode_jpeg(stream[:-cut])


def test_quality_scaling_follows_libjpeg_formula():
    ql50, qc50 = scaled_quant_tables(50)
    assert ql50[0] == 16 and qc50[0] == 17  # Annex K verbatim
    ql90, _ = scaled_quant_tables(90)
    ql10, _ = scaled_quant_tables(10)
    assert (ql90 <= ql50).all() and (ql10 >= ql50).all()
    assert ql90.min() >= 1 and ql10.max() <= 255


def test_spark_resize_real_jpeg_pixels(spark):
    """resize_frames on JPEG input runs the FULL real path inside the
    Arrow UDF: decode, integer nearest-neighbour resample, re-encode —
    and the output decodes to the resampled pixels exactly (constant
    frames round-trip losslessly after the first encode)."""
    from big_data_exercise_spark.multimodal.codecs import resize_frames

    img = np.full((12, 24), 88, dtype=np.uint8)
    frames = spark.createDataFrame(
        [(1, 0, bytearray(encode_jpeg(img, quality=50)))],
        "camera_id long, frame_number long, frame binary",
    )
    out = bytes(resize_frames(frames, width=16).collect()[0]["frame"])
    dec = decode_jpeg(out)
    assert dec.shape == (8, 16)
    assert np.unique(dec).tolist() == [constant_roundtrip_value(88)]


def test_cv2_cross_check():
    """Where cv2 exists, our decoder and cv2.imdecode must agree
    within IDCT-implementation tolerance on our encoder's output, and
    our decoder must read cv2.imencode's output — implementation vs
    implementation, not implementation vs itself. (Skipped where cv2
    is absent; the spec-level tests above still run.)"""
    cv2 = pytest.importorskip("cv2")

    g = _gradient(24, 40)
    ours = encode_jpeg(g, quality=90)
    theirs_arr = cv2.imdecode(
        np.frombuffer(ours, dtype=np.uint8), cv2.IMREAD_GRAYSCALE
    )
    assert theirs_arr is not None
    assert np.abs(
        decode_jpeg(ours).astype(int) - theirs_arr.astype(int)
    ).max() <= 2

    ok, enc = cv2.imencode(".jpg", g, [cv2.IMWRITE_JPEG_QUALITY, 90])
    assert ok
    mine = decode_jpeg(enc.tobytes())
    theirs = cv2.imdecode(enc, cv2.IMREAD_GRAYSCALE)
    assert mine.shape == theirs.shape
    assert np.abs(mine.astype(int) - theirs.astype(int)).max() <= 2


def test_restart_markers_roundtrip_identically():
    """DRI/RSTn streams (camera error-resilience framing) must decode
    to the SAME pixels as the unframed stream: the decoder re-syncs at
    each restart, resets DC predictors, and discards pad bits — any
    bookkeeping error shifts every block after the first marker."""
    g = _gradient(40, 48)
    base = decode_jpeg(encode_jpeg(g, quality=95))
    for dri in (1, 2, 5):
        framed = encode_jpeg(g, quality=95, restart_interval=dri)
        assert b"\xff\xdd" in framed  # DRI segment present
        assert any(
            bytes([0xFF, 0xD0 + i]) in framed for i in range(8)
        )
        assert np.array_equal(decode_jpeg(framed), base)
    c = np.dstack([g, g[::-1], g[:, ::-1]])
    base_c = decode_jpeg(encode_jpeg(c, quality=90, subsampling="4:2:0"))
    framed_c = encode_jpeg(
        c, quality=90, subsampling="4:2:0", restart_interval=2
    )
    assert np.array_equal(decode_jpeg(framed_c), base_c)


def test_422_subsampling_and_16bit_dqt():
    """4:2:2 (horizontal-only chroma halving — the broadcast-video
    default) round-trips with bounded error between 4:4:4 and 4:2:0,
    and the decoder reads 16-bit (precision=1) DQT segments — a legal
    encoding this encoder never emits, so the segment is hand-widened
    from a real stream and must decode pixel-identically."""
    import struct

    g = _gradient(20, 30)
    c = np.dstack([g, g[::-1], g[:, ::-1]])
    errs = {}
    for sub in ("4:4:4", "4:2:2", "4:2:0"):
        dec = decode_jpeg(encode_jpeg(c, quality=95, subsampling=sub))
        assert dec.shape == c.shape
        errs[sub] = np.abs(dec.astype(int) - c.astype(int)).max()
    assert errs["4:4:4"] <= errs["4:2:2"] <= errs["4:2:0"]
    const = np.full((11, 13, 3), 93, np.uint8)
    dec = decode_jpeg(encode_jpeg(const, quality=90, subsampling="4:2:2"))
    assert np.abs(dec.astype(int) - 93).max() <= 2

    b = encode_jpeg(g, quality=50)
    i = b.find(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
    pq_tq = b[i + 4]
    entries = b[i + 5 : i + 5 + 64]
    wide = b"".join(struct.pack(">H", e) for e in entries)
    seg16 = (
        b"\xff\xdb"
        + struct.pack(">H", 2 + 1 + 128)
        + bytes([0x10 | (pq_tq & 0xF)])
        + wide
    )
    widened = b[:i] + seg16 + b[i + 2 + seglen :]
    assert np.array_equal(decode_jpeg(widened), decode_jpeg(b))


def test_fill_bytes_before_markers_decode_identically():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes,
    including inside the entropy-coded stream. A conformant foreign
    encoder may pad before RSTn or EOI; the fill run must classify as
    padding (not a scan terminator) and be excluded from the entropy
    data."""
    g = _gradient(40, 48)
    base = decode_jpeg(encode_jpeg(g, quality=95))

    # fill run before EOI (unframed stream)
    enc = encode_jpeg(g, quality=95)
    assert enc.endswith(b"\xff\xd9")
    padded = enc[:-2] + b"\xff\xff\xff" + b"\xff\xd9"
    assert np.array_equal(decode_jpeg(padded), base)

    # fill bytes before the first RSTn AND before EOI of a framed
    # stream — re-sync, DC reset, and segment slicing all see fill
    framed = encode_jpeg(g, quality=95, restart_interval=2)
    sos = framed.index(b"\xff\xda")
    rst = framed.index(b"\xff\xd0", sos)
    padded_f = (
        framed[:rst] + b"\xff" + framed[rst:-2] + b"\xff\xff\xff\xd9"
    )
    assert np.array_equal(decode_jpeg(padded_f), base)

    # progressive streams use the same segment splitter per scan
    prog = encode_jpeg(g, quality=95, progressive=True)
    assert prog.endswith(b"\xff\xd9")
    padded_p = prog[:-2] + b"\xff\xff" + b"\xff\xd9"
    assert np.array_equal(decode_jpeg(padded_p), decode_jpeg(prog))


def test_native_entropy_decoder_matches_python():
    """Round-12: the compiled entropy-decode fast path must produce
    BYTE-IDENTICAL pixels to the pure-Python reference loops across
    baseline/progressive × subsampling × restart framing × grayscale,
    over randomized frames — and fail with the same JpegFormatError
    message on truncated entropy data. Skips nothing: when no compiler
    is available get_lib() returns None and both decodes run the
    Python path (the assertion is then trivially true and the fast
    path is simply absent on that host)."""
    import os

    from big_data_exercise_spark.multimodal import _native
    from big_data_exercise_spark.multimodal.jpeg import JpegFormatError

    def decode_both(enc):
        fast = decode_jpeg(enc)
        os.environ["SPARK_GRAFT_NATIVE"] = "0"
        _native._tried, _native._lib = False, None
        try:
            slow = decode_jpeg(enc)
        finally:
            os.environ.pop("SPARK_GRAFT_NATIVE", None)
            _native._tried, _native._lib = False, None
        return fast, slow

    rng = np.random.default_rng(42)
    for shape, sub in [((56, 72, 3), "4:2:0"), ((41, 33, 3), "4:4:4"),
                       ((48, 64), "4:4:4")]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for prog in (False, True):
            for dri in (0, 3):
                enc = encode_jpeg(
                    img, quality=80, subsampling=sub,
                    restart_interval=dri, progressive=prog,
                )
                fast, slow = decode_both(enc)
                assert np.array_equal(fast, slow), (shape, sub, prog, dri)

    # truncation raises identically through both paths
    enc = encode_jpeg(
        rng.integers(0, 256, (40, 40, 3), dtype=np.uint8), quality=80
    )
    cut = enc[: enc.index(b"\xff\xda") + 40]
    with pytest.raises(JpegFormatError) as fast_exc:
        decode_jpeg(cut)  # native path (when available)
    os.environ["SPARK_GRAFT_NATIVE"] = "0"
    _native._tried, _native._lib = False, None
    try:
        with pytest.raises(JpegFormatError) as slow_exc:
            decode_jpeg(cut)  # reference path
    finally:
        os.environ.pop("SPARK_GRAFT_NATIVE", None)
        _native._tried, _native._lib = False, None
    assert str(fast_exc.value) == str(slow_exc.value)


def test_native_loader_rejects_planted_library(tmp_path, monkeypatch):
    """A file planted where the loader caches the compiled library does
    not match the digest recorded at compile time, so get_lib()
    recompiles instead of loading it (or giving up on the fast path),
    and the rebuilt library decodes byte-identically to Python. A cache
    directory others can write to disables the native path."""
    import os
    import shutil
    import tempfile

    from big_data_exercise_spark.multimodal import _native

    if shutil.which("cc") is None:
        pytest.skip("no C compiler on this host")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.delenv("SPARK_GRAFT_NATIVE", raising=False)
    monkeypatch.setattr(_native, "_tried", False)
    monkeypatch.setattr(_native, "_lib", None)

    so = _native._cache_path()
    with open(so, "wb") as f:
        f.write(b"not a shared library\n")
    lib = _native.get_lib()
    assert lib is not None
    assert _native._verified(so)

    img = np.random.default_rng(7).integers(0, 256, (24, 40, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quality=80)
    fast = decode_jpeg(enc)
    monkeypatch.setenv("SPARK_GRAFT_NATIVE", "0")
    monkeypatch.setattr(_native, "_tried", False)
    assert np.array_equal(fast, decode_jpeg(enc))

    monkeypatch.delenv("SPARK_GRAFT_NATIVE")
    monkeypatch.setattr(_native, "_tried", False)
    os.chmod(os.path.dirname(so), 0o777)
    assert _native.get_lib() is None
