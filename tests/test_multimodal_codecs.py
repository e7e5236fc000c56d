"""Real stdlib multimodal codecs (WAV via ``wave``, BMP via ``struct``):
round-trip invariants, independent-parser cross-checks, and corrupt-blob
resilience (a bad payload must be skipped, never fatal)."""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import functions as F

from db_loader_spark.functions.multimodal import (
    decode_audio,
    decode_image,
    decode_jpeg,
    decode_png,
    synth_bmp,
    synth_jpeg,
    synth_png,
    synth_wav,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_wav_payloads_are_real_riff_containers(spark):
    """The synthesized payloads must parse with the stdlib wave reader
    (an INDEPENDENT parser from the synth path's writer state)."""
    payloads = synth_wav(_docs(spark, [(7, "hello world")])).collect()
    assert len(payloads) == 1
    buf = payloads[0].payload
    assert bytes(buf[:4]) == b"RIFF" and bytes(buf[8:12]) == b"WAVE"
    with wave.open(io.BytesIO(bytes(buf)), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, 8000)
        n = 16 + len("hello world") % 32
        assert w.getnframes() == n
        samples = struct.unpack(f"<{n}h", w.readframes(n))
    assert samples[0] == (7 * 31) % 201 - 100
    assert samples[1] == (7 * 31 + 17) % 201 - 100


def test_wav_decode_features_match_python_reference(spark):
    df = _docs(spark, [(0, ""), (3, "abc"), (42, "x" * 40)])
    feats = {r.doc_id: r for r in decode_audio(synth_wav(df)).collect()}
    assert set(feats) == {0, 3, 42}
    for did, txt in [(0, ""), (3, "abc"), (42, "x" * 40)]:
        n = 16 + len(txt) % 32
        samples = [((did * 31 + i * 17) % 201) - 100 for i in range(n)]
        r = feats[did]
        assert (r.n_channels, r.sample_rate, r.n_frames) == (1, 8000, n)
        assert r.duration_ms == n * 1000 // 8000
        assert r.sum_sq == sum(s * s for s in samples)
        assert r.peak_amp == max(abs(s) for s in samples)


def test_wav_decode_skips_corrupt_payloads(spark):
    good = synth_wav(_docs(spark, [(1, "ok")])).collect()[0].payload
    mixed = spark.createDataFrame(
        [
            (1, bytes(good)),
            (2, b"not a wav at all"),
            (3, bytes(good)[:20]),  # truncated header
            (4, b""),
        ],
        "doc_id long, payload binary",
    )
    out = decode_audio(mixed).collect()
    assert [r.doc_id for r in out] == [1]  # corrupt rows skipped, job alive


def test_bmp_payloads_are_real_bmp_containers(spark):
    payloads = synth_bmp(_docs(spark, [(11, "abcdef")])).collect()
    buf = bytes(payloads[0].payload)
    assert buf[:2] == b"BM"
    (size,) = struct.unpack_from("<I", buf, 2)
    assert size == len(buf)  # header-declared file size is accurate
    (offset,) = struct.unpack_from("<I", buf, 10)
    w, h = struct.unpack_from("<ii", buf, 18)
    (bpp,) = struct.unpack_from("<H", buf, 28)
    assert (w, h, bpp, offset) == (4 + 11 % 5, 3 + 6 % 4, 24, 54)
    stride = (w * 3 + 3) & ~3
    assert len(buf) == offset + stride * h
    # bottom-up: the FIRST stored row is y = h-1; pixel x=0 is BGR
    y = h - 1
    assert buf[offset] == (3 * 11 + 0 + 11 * y) % 256  # B
    assert buf[offset + 1] == (2 * 11 + 0 + y) % 256  # G
    assert buf[offset + 2] == (11 + 0 + 7 * y) % 256  # R


def test_bmp_decode_features_match_python_reference(spark):
    rows = [(0, "zz"), (13, "a much longer document text")]
    feats = {r.doc_id: r for r in decode_image(synth_bmp(_docs(spark, rows))).collect()}
    for did, txt in rows:
        w, h = 4 + did % 5, 3 + len(txt) % 4
        r = feats[did]
        assert (r.width, r.height, r.bpp, r.n_pixels) == (w, h, 24, w * h)
        assert r.sum_r == sum(
            (did + 3 * x + 7 * y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_g == sum(
            (2 * did + 5 * x + y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_b == sum(
            (3 * did + x + 11 * y) % 256 for x in range(w) for y in range(h)
        )


def test_bmp_decode_skips_corrupt_and_unsupported(spark):
    good = bytes(synth_bmp(_docs(spark, [(1, "ok")])).collect()[0].payload)
    # flip bpp to 8 (unsupported depth) in an otherwise-valid container
    wrong_depth = bytearray(good)
    struct.pack_into("<H", wrong_depth, 28, 8)
    mixed = spark.createDataFrame(
        [
            (1, good),
            (2, b"GIF89a not a bmp"),
            (3, good[:40]),  # truncated: pixel data missing
            (4, bytes(wrong_depth)),
        ],
        "doc_id long, payload binary",
    )
    out = decode_image(mixed).collect()
    assert [r.doc_id for r in out] == [1]


def test_png_payloads_are_real_pngs_with_all_filters(spark):
    """The synthesized PNGs must be structurally genuine — signature,
    chunk lengths, valid CRC32s — and a ≥5-row image (doc_id=0 so
    filter type = y % 5) uses every PNG filter type across scanlines."""
    import zlib

    # len(text) % 4 == 2 -> h = 5: filters 0..4 all appear
    payloads = synth_png(_docs(spark, [(0, "abcdef")])).collect()
    buf = bytes(payloads[0].payload)
    assert buf[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks, idat = 8, [], b""
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        assert zlib.crc32(ctype + data) & 0xFFFFFFFF == crc
        chunks.append(ctype)
        if ctype == b"IDAT":
            idat += data
        pos += 12 + length
    assert chunks == [b"IHDR", b"IDAT", b"IEND"]
    w, h = 4, 5
    stream = zlib.decompress(idat)
    assert len(stream) == h * (1 + 3 * w)
    filters = [stream[y * (1 + 3 * w)] for y in range(h)]
    assert sorted(filters) == [0, 1, 2, 3, 4]


def test_png_decode_features_match_python_reference(spark):
    """Round trip through ALL filter types must reproduce the exact
    pixel formulas — this is the unfilter arithmetic under value check."""
    rows = [(0, "abcdef"), (3, "x"), (11, "every filter, other phase")]
    feats = {r.doc_id: r for r in decode_png(synth_png(_docs(spark, rows))).collect()}
    assert len(feats) == len(rows)
    for did, txt in rows:
        w, h = 4 + did % 5, 3 + len(txt) % 4
        r = feats[did]
        assert (r.width, r.height, r.bit_depth, r.color_type, r.n_pixels) == (
            w, h, 8, 2, w * h,
        )
        assert r.sum_r == sum(
            (5 * did + x + 2 * y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_g == sum(
            (did + 7 * x + 3 * y) % 256 for x in range(w) for y in range(h)
        )
        assert r.sum_b == sum(
            (2 * did + 3 * x + 5 * y) % 256 for x in range(w) for y in range(h)
        )


def test_png_decode_skips_corrupt_and_unsupported(spark):
    good = bytes(synth_png(_docs(spark, [(1, "ok")])).collect()[0].payload)
    # corrupt one IDAT byte -> CRC mismatch must skip, not crash
    bad_crc = bytearray(good)
    bad_crc[len(good) - 20] ^= 0xFF
    # valid chunks but grayscale color type (unsupported): rebuild IHDR
    import zlib as _z

    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    gray = (
        good[:8]
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + good[8 + 12 + 13 :]
    )
    mixed = spark.createDataFrame(
        [
            (1, good),
            (2, b"\x89PNG\r\n\x1a\nnot really"),
            (3, bytes(bad_crc)),
            (4, gray),
            (5, b"GIF89a"),
        ],
        "doc_id long, payload binary",
    )
    out = decode_png(mixed).collect()
    assert [r.doc_id for r in out] == [1]


def test_jpeg_constant_blocks_roundtrip_exact(spark):
    """The oracle-exact path: constant 8x8 blocks survive the lossy
    pipeline bit-for-bit (DC quant divides the constant's DC; AC
    quantizes to zero) through the REAL encoder and decoder."""
    rows = [(0, "ab"), (7, "hello world"), (13, "xyz abc")]
    feats = {
        r.doc_id: r for r in decode_jpeg(synth_jpeg(_docs(spark, rows))).collect()
    }
    assert len(feats) == len(rows)
    for did, txt in rows:
        bw, bh = 1 + did % 3, 1 + len(txt) % 3
        r = feats[did]
        ref = 64 * sum(
            (17 * did + 29 * bx + 41 * by) % 256
            for bx in range(bw)
            for by in range(bh)
        )
        assert (r.width, r.height, r.n_blocks, r.sum_luma) == (
            bw * 8, bh * 8, bw * bh, ref,
        )


def test_jpeg_general_image_roundtrip_near_lossless(spark):
    """The full AC path (nonzero coefficients, run lengths, ZRL, the
    complete IDCT): an arbitrary image through q=1 tables round-trips
    within double-rounding tolerance — proving the codec is general,
    not a constant-block special case."""
    import numpy as np

    enc = synth_jpeg(_docs(spark, [(1, "x")])).encode_gray
    dec = decode_jpeg(
        spark.createDataFrame([(1, b"")], "doc_id long, payload binary")
    ).decode_gray
    rng = np.arange(24 * 16).reshape(16, 24)
    img = ((rng * 37 + (rng // 24) * 91) % 256).astype(float)
    buf = enc(img, [1] * 64)
    w, h, nb, sums = dec(buf)
    assert (w, h, nb) == (24, 16, 6)
    # per-pixel |error| <= ~1 from coefficient + pixel rounding
    assert abs(sums[0] - img.sum()) <= 2 * img.size


def test_jpeg_stream_is_marker_valid(spark):
    """Structural validity: marker walk yields SOI, APP0, DQT, SOF0,
    two DHTs (classes 0 and 1), SOS, EOI, with every segment length
    consistent — the stream a conformant parser expects."""
    buf = bytes(synth_jpeg(_docs(spark, [(5, "abc")])).collect()[0].payload)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    pos, markers, dht_classes = 2, [], []
    while pos < len(buf) - 2:
        assert buf[pos] == 0xFF
        marker = (buf[pos] << 8) | buf[pos + 1]
        markers.append(marker)
        (ln,) = struct.unpack_from(">H", buf, pos + 2)
        if marker == 0xFFC4:
            dht_classes.append(buf[pos + 4] >> 4)
        if marker == 0xFFDA:
            break
        pos += 2 + ln
    assert markers == [0xFFE0, 0xFFDB, 0xFFC0, 0xFFC4, 0xFFC4, 0xFFDA]
    assert sorted(dht_classes) == [0, 1]


def test_jpeg_decode_skips_corrupt_and_unsupported(spark):
    good = bytes(synth_jpeg(_docs(spark, [(1, "ok")])).collect()[0].payload)
    # rewrite SOF0 marker to SOF2 (progressive — unsupported)
    prog = bytearray(good)
    sof_at = good.index(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2
    mixed = spark.createDataFrame(
        [
            (1, good),
            (2, b"\xff\xd8garbage"),
            (3, good[:40]),
            (4, bytes(prog)),
            (5, b"PNG?"),
        ],
        "doc_id long, payload binary",
    )
    out = decode_jpeg(mixed).collect()
    assert [r.doc_id for r in out] == [1]


def test_jpeg_color_interleaved_roundtrip(spark):
    """3-component 4:4:4 baseline (the color path): interleaved MCUs
    with per-component DC predictors through the same encoder/decoder.
    Constant YCbCr blocks round-trip exactly per channel; a general
    3-plane image round-trips near-losslessly with q=1."""
    import numpy as np

    enc = synth_jpeg(_docs(spark, [(1, "x")])).encode
    dec = decode_jpeg(
        spark.createDataFrame([(1, b"")], "doc_id long, payload binary")
    ).decode_gray

    # exact path: constant blocks per channel
    def const_planes(vals, bw=2, bh=3):
        planes = []
        for k, base in enumerate(vals):
            p = np.empty((bh * 8, bw * 8))
            for by in range(bh):
                for bx in range(bw):
                    p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        base + 31 * bx + 57 * by + 13 * k
                    ) % 256
            planes.append(p)
        return planes

    planes = const_planes([40, 90, 200])
    buf = enc(planes, [8] + [16] * 63)
    w, h, nb, sums = dec(buf)
    assert (w, h, nb) == (16, 24, 6)
    assert sums == [int(p.sum()) for p in planes]

    # general path: arbitrary 3-plane content, q=1
    rng = np.arange(16 * 16).reshape(16, 16)
    gen = [((rng * m + 7 * (rng // 16)) % 256).astype(float) for m in (3, 5, 11)]
    buf2 = enc(gen, [1] * 64)
    w2, h2, nb2, sums2 = dec(buf2)
    assert (w2, h2, nb2) == (16, 16, 4)
    for s, p in zip(sums2, gen):
        assert abs(s - p.sum()) <= 2 * p.size


_FOREIGN_CWD_SCRIPT = """\
import importlib.util
import json
import sys

assert importlib.util.find_spec("db_loader_spark") is None
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from db_loader_spark.functions import multimodal as mm

docs = spark.createDataFrame({docs!r}, "doc_id long, text string")
out = {{}}
for name, synth, decode in (
    ("png", mm.synth_png, mm.decode_png),
    ("jpeg", mm.synth_jpeg, mm.decode_jpeg),
    ("bmp", mm.synth_bmp, mm.decode_image),
    ("wav", mm.synth_wav, mm.decode_audio),
):
    out[name] = sorted(list(r) for r in decode(synth(docs)).collect())
with open({out!r}, "w") as fh:
    json.dump(out, fh)
spark.stop()
"""


def test_codecs_work_from_a_foreign_cwd(spark, tmp_path):
    """Python workers started from a cwd that cannot import the package
    (and a PYTHONPATH without the repository) run the PNG, JPEG, BMP and
    WAV synth + decode paths, and each equals its in-process result —
    so no ``mapInPandas`` closure reaches a module-level helper."""
    import json
    import os
    import subprocess
    import sys

    from db_loader_spark.functions import multimodal as mm

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = [(i, "text " * i) for i in range(1, 9)]
    out = tmp_path / "out.json"
    work = tmp_path / "cwd"
    work.mkdir()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    r = subprocess.run(
        [sys.executable, "-c",
         _FOREIGN_CWD_SCRIPT.format(repo=repo, docs=rows, out=str(out))],
        capture_output=True, text=True, timeout=600, cwd=str(work), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(out.read_text())
    docs = _docs(spark, rows)
    for name, synth, decode in (
        ("png", mm.synth_png, mm.decode_png),
        ("jpeg", mm.synth_jpeg, mm.decode_jpeg),
        ("bmp", mm.synth_bmp, mm.decode_image),
        ("wav", mm.synth_wav, mm.decode_audio),
    ):
        want = sorted(list(r) for r in decode(synth(docs)).collect())
        assert got[name] == json.loads(json.dumps(want)), name
        assert len(got[name]) == len(rows), name
