"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``binary`` columns with a typed
metadata struct alongside. The Spark-side plumbing — schema, Arrow batch
shape, mapInPandas signature, partition sizing — is real and tested, and
four container formats are decoded END-TO-END with stdlib(+numpy)
codecs: ``decode_audio`` parses real RIFF/WAVE containers (``wave`` +
``struct``), ``decode_image`` parses real 24-bpp BMP containers
(``struct``), ``decode_png`` parses real non-interlaced RGB8 PNGs
(``zlib`` + ``struct``, full chunk/CRC walk + scanline unfiltering),
and ``decode_jpeg`` parses real grayscale baseline JPEGs (marker walk,
DHT-built Huffman tables, entropy decode, dequantize, 2-D IDCT).
Formats that genuinely need external libs (color/progressive JPEG is
only more of the same machinery, but MP3/video codecs are not) drop
into the same mapInPandas slots when a decoder import succeeds
(``_HAS_IMAGE_LIB``); ``extract_features`` keeps the codec-free
byte-level path.

At 100 TB the pattern is: store payloads in parquet binary columns (or
pointers to object storage), ``repartition`` so each Arrow batch holds a
bounded number of payloads, and run the decoder via ``mapInPandas`` so
one Python worker processes a whole Arrow batch per call.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, n_bytes int, first_byte int, checksum int"

try:  # real decoders if ever available in the runtime
    import PIL.Image  # noqa: F401

    _HAS_IMAGE_LIB = True
except Exception:  # pragma: no cover - container has no PIL
    _HAS_IMAGE_LIB = False


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (UTF-8 bytes of the
    text stand in for an image/audio blob in the testdata)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary → feature rows via mapInPandas (the real decoder slot).

    The batch function is a *closure* so cloudpickle serializes it by
    value — Spark Python workers don't need this package importable
    (the driver may run from any cwd). Deterministic byte-level
    'features' (length, first byte, additive checksum mod 997) stand in
    for a codec (PIL/librosa/ffmpeg); batch shape and schema stay
    identical when a real decoder is swapped in.
    """
    import pandas as _pd

    def batch_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int32"),
                    "first_byte": payload.map(lambda b: b[0] if len(b) else -1).astype(
                        "int32"
                    ),
                    "checksum": payload.map(lambda b: int(sum(b) % 997)).astype(
                        "int32"
                    ),
                }
            )

    payloads = df.select(F.col(id_col).alias("doc_id"), "payload")
    return payloads.mapInPandas(batch_features, schema=FEATURE_SCHEMA)


EMBED_DIM = 8
EMBED_SCHEMA = f"vec_id long, embedding array<float>"


def extract_embedding(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary payload → embedding vector via mapInPandas — the
    multimodal→vector handoff every training pipeline runs (image/audio
    encoder models batch exactly like this: Arrow batch in, one
    fixed-dim vector per payload out).

    The encoder is a deterministic stand-in (byte-histogram over 8
    residue buckets — integer-valued, so downstream cosine arithmetic
    is engine-exact); swapping in a real model changes ONLY the closure
    body, not the schema, batch shape, or the ANN operators downstream
    (functions.similarity consumes this frame directly with
    ``dim=EMBED_DIM``).
    """
    import pandas as _pd

    def batch_embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def hist(b: bytes) -> list[float]:
                counts = [0] * 8
                for byte in b:
                    counts[byte % 8] += 1
                return [float(c) for c in counts]

            yield _pd.DataFrame(
                {
                    "vec_id": pdf["doc_id"],
                    "embedding": pdf["payload"].map(hist),
                }
            )

    payloads = df.select(F.col(id_col).alias("doc_id"), "payload")
    return payloads.mapInPandas(batch_embed, schema=EMBED_SCHEMA)


WAV_FEATURE_SCHEMA = (
    "doc_id long, n_channels int, sample_rate int, n_frames int, "
    "duration_ms int, sum_sq long, peak_amp int"
)
BMP_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bpp int, n_pixels int, "
    "sum_r long, sum_g long, sum_b long"
)


def synth_wav(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic PCM16 mono WAV payloads, written with the stdlib
    ``wave`` module — REAL RIFF/WAVE containers, not fakes. Sample count
    and waveform derive from (doc_id, text) so a SQL oracle can mirror
    the decoded features exactly: n = 16 + len(text) % 32 samples of
    ``((doc_id*31 + i*17) % 201) - 100`` at 8 kHz."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        for pdf in batches:
            payloads = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                n = 16 + len(txt) % 32
                samples = [((int(did) * 31 + i * 17) % 201) - 100 for i in range(n)]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(struct.pack(f"<{n}h", *samples))
                payloads.append(buf.getvalue())
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return sel.mapInPandas(batch, schema="doc_id long, payload binary")


def decode_audio(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """REAL audio decode (stdlib-only): parse the RIFF/WAVE container
    with ``wave``, unpack PCM16 frames with ``struct``, and emit audio
    features — channel count, sample rate, frame count, duration, total
    energy (sum of squared samples — integer, so engine-exact) and peak
    amplitude.

    Corrupt / non-WAV / non-PCM16 payloads are SKIPPED, not fatal: at
    100 TB a handful of bad blobs must never kill the job (count the
    input-vs-output row delta to alert on decode failures). Replaces the
    round-2 ``NotImplementedError`` stub for the audio modality."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import struct
        import wave

        cols = (
            "doc_id", "n_channels", "sample_rate", "n_frames",
            "duration_ms", "sum_sq", "peak_amp",
        )
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                        nch = w.getnchannels()
                        sw = w.getsampwidth()
                        sr = w.getframerate()
                        nf = w.getnframes()
                        raw = w.readframes(nf)
                    if sw != 2:  # only PCM16 features here
                        continue
                    # Corrupt-header hygiene (found by the fuzz suite):
                    # `wave` happily returns whatever the bytes say, and
                    # a flipped header byte yields a rate/frame-count
                    # that overflows the int32 feature schema at Arrow
                    # serialization — which would kill the JOB, not the
                    # row. Bound every header field and require the
                    # declared frame count to match the bytes actually
                    # present (truncation policy, same as BMP/PNG).
                    if not (1 <= nch <= 64 and 1 <= sr <= 10_000_000):
                        continue
                    if not (0 <= nf <= (1 << 31) - 1 and nf * 1000 // sr < (1 << 31)):
                        continue
                    if len(raw) != nf * nch * 2:
                        continue
                    # explicit little-endian unpack (WAV byte order),
                    # independent of host endianness
                    samples = struct.unpack(f"<{len(raw) // 2}h", raw)
                except Exception:  # noqa: BLE001 — corrupt blob: skip row
                    continue
                out["doc_id"].append(int(did))
                out["n_channels"].append(nch)
                out["sample_rate"].append(sr)
                out["n_frames"].append(nf)
                out["duration_ms"].append(nf * 1000 // sr)
                out["sum_sq"].append(sum(s * s for s in samples))
                out["peak_amp"].append(max((abs(s) for s in samples), default=0))
            yield _pd.DataFrame(out)

    return df.mapInPandas(batch, schema=WAV_FEATURE_SCHEMA)


def synth_bmp(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic 24-bpp BMP payloads built byte-by-byte with
    ``struct`` — REAL BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up
    BGR pixel rows with 4-byte row padding. Dimensions and pixels derive
    from (doc_id, text): w = 4 + doc_id%5, h = 3 + len(text)%4,
    R = (doc_id + 3x + 7y) % 256, G = (2*doc_id + 5x + y) % 256,
    B = (3*doc_id + x + 11y) % 256."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            payloads = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w = 4 + did % 5
                h = 3 + len(txt) % 4
                stride = (w * 3 + 3) & ~3
                rows = []
                for y in range(h - 1, -1, -1):  # BMP rows are bottom-up
                    row = bytearray()
                    for x in range(w):
                        r = (did + 3 * x + 7 * y) % 256
                        g = (2 * did + 5 * x + y) % 256
                        b = (3 * did + x + 11 * y) % 256
                        row += bytes((b, g, r))  # on-disk order is BGR
                    row += b"\x00" * (stride - w * 3)
                    rows.append(bytes(row))
                pixels = b"".join(rows)
                dib = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
                )
                offset = 14 + 40
                hdr = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
                payloads.append(hdr + dib + pixels)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return sel.mapInPandas(batch, schema="doc_id long, payload binary")


def decode_image(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """REAL image decode (stdlib-only): parse the BMP container with
    ``struct`` — magic, pixel-data offset, DIB width/height/bpp — then
    walk the bottom-up, stride-padded BGR pixel rows and emit image
    features (dimensions, bpp, per-channel integer sums; means are
    sum/n_pixels downstream).

    Only uncompressed 24-bpp BMPs are decoded; anything else (bad magic,
    compressed, other depths, truncated pixel data) is SKIPPED so a
    corrupt blob can't kill a 100 TB job. Replaces the round-2
    ``NotImplementedError`` stub for the image modality; a PIL/opencv
    decoder drops into this same mapInPandas slot when available
    (``_HAS_IMAGE_LIB``)."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        cols = (
            "doc_id", "width", "height", "bpp", "n_pixels",
            "sum_r", "sum_g", "sum_b",
        )
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    buf = bytes(payload)
                    if buf[:2] != b"BM":
                        continue
                    (offset,) = struct.unpack_from("<I", buf, 10)
                    w, h = struct.unpack_from("<ii", buf, 18)
                    (bpp,) = struct.unpack_from("<H", buf, 28)
                    (compression,) = struct.unpack_from("<I", buf, 30)
                    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
                        continue
                    bottom_up = h > 0
                    h = abs(h)
                    stride = (w * 3 + 3) & ~3
                    if len(buf) < offset + stride * h:
                        continue  # truncated pixel data
                    sum_r = sum_g = sum_b = 0
                    for row_i in range(h):
                        base = offset + row_i * stride
                        for x in range(w):
                            p = base + 3 * x
                            sum_b += buf[p]
                            sum_g += buf[p + 1]
                            sum_r += buf[p + 2]
                    del bottom_up  # channel sums are row-order invariant
                except Exception:  # noqa: BLE001 — corrupt blob: skip row
                    continue
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["bpp"].append(bpp)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(sum_r)
                out["sum_g"].append(sum_g)
                out["sum_b"].append(sum_b)
            yield _pd.DataFrame(out)

    return df.mapInPandas(batch, schema=BMP_FEATURE_SCHEMA)


PNG_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, color_type int, "
    "n_pixels int, sum_r long, sum_g long, sum_b long"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def synth_png(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic 8-bit RGB PNG payloads built with ``struct`` +
    ``zlib`` only — REAL PNGs (signature, IHDR, zlib-deflated IDAT with
    per-scanline filter bytes, CRC32 per chunk, IEND). Dimensions and
    pixels derive from (doc_id, text): w = 4 + doc_id%5,
    h = 3 + len(text)%4, R = (5*doc_id + x + 2*y) % 256,
    G = (doc_id + 7*x + 3*y) % 256, B = (2*doc_id + 3*x + 5*y) % 256.

    Each scanline is FILTERED with type (doc_id + y) % 5, so across the
    corpus every PNG filter (None/Sub/Up/Average/Paeth) is exercised and
    the decoder's unfilter path is value-checked — a synth that always
    wrote filter 0 would leave the hard 80% of the codec untested."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        def paeth(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        def chunk(ctype: bytes, data: bytes) -> bytes:
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

        for pdf in batches:
            payloads = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w = 4 + did % 5
                h = 3 + len(txt) % 4
                prior = bytes(3 * w)
                raw_stream = bytearray()
                for y in range(h):
                    raw = bytes(
                        v
                        for x in range(w)
                        for v in (
                            (5 * did + x + 2 * y) % 256,
                            (did + 7 * x + 3 * y) % 256,
                            (2 * did + 3 * x + 5 * y) % 256,
                        )
                    )
                    ft = (did + y) % 5
                    filt = bytearray()
                    for i, v in enumerate(raw):
                        left = raw[i - 3] if i >= 3 else 0
                        up = prior[i]
                        ul = prior[i - 3] if i >= 3 else 0
                        if ft == 0:
                            f = v
                        elif ft == 1:
                            f = v - left
                        elif ft == 2:
                            f = v - up
                        elif ft == 3:
                            f = v - (left + up) // 2
                        else:
                            f = v - paeth(left, up, ul)
                        filt.append(f % 256)
                    raw_stream += bytes([ft]) + filt
                    prior = raw
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
                png = (
                    _PNG_SIG
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(raw_stream)))
                    + chunk(b"IEND", b"")
                )
                payloads.append(png)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return sel.mapInPandas(batch, schema="doc_id long, payload binary")


def decode_png(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """REAL PNG decode (stdlib-only): signature check, chunk walk with
    CRC32 verification, IHDR parse, IDAT concatenation + zlib inflate,
    and full scanline UNFILTERING (None/Sub/Up/Average/Paeth per the
    PNG spec, bpp=3) — then per-channel integer sums as image features.
    Closes the 'PNG needs PIL' stub: non-interlaced 8-bit RGB
    (color type 2) needs nothing beyond ``zlib`` + ``struct``.

    Anything else — bad signature, CRC mismatch, other bit depths /
    color types / interlacing, truncated or over-long pixel data — is
    SKIPPED, not fatal: a corrupt blob must never kill a 100 TB job
    (alert on the input-vs-output row delta). The unfilter loop is
    per-byte Python, fine at thumbnail size; megapixel inputs would
    vectorize Sub/Up/Average with numpy and keep only Paeth's
    sequential carry in a loop — same mapInPandas slot either way."""
    import pandas as _pd

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        def paeth(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        cols = (
            "doc_id", "width", "height", "bit_depth", "color_type",
            "n_pixels", "sum_r", "sum_g", "sum_b",
        )
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    buf = bytes(payload)
                    if buf[:8] != _PNG_SIG:
                        continue
                    pos, ihdr, idat, ok = 8, None, bytearray(), True
                    while pos + 8 <= len(buf):
                        (length,) = struct.unpack_from(">I", buf, pos)
                        ctype = buf[pos + 4 : pos + 8]
                        data = buf[pos + 8 : pos + 8 + length]
                        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
                        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                            ok = False
                            break
                        if ctype == b"IHDR":
                            ihdr = struct.unpack(">IIBBBBB", data)
                        elif ctype == b"IDAT":
                            idat += data
                        elif ctype == b"IEND":
                            break
                        pos += 12 + length
                    if not ok or ihdr is None:
                        continue
                    w, h, depth, ctype_n, comp, filt, interlace = ihdr
                    if (depth, ctype_n, comp, filt, interlace) != (8, 2, 0, 0, 0):
                        continue  # only non-interlaced RGB8
                    if w == 0 or h == 0 or w * h > (1 << 24):
                        continue  # absurd header dims (fuzz hygiene)
                    # bounded inflate: cap at the expected scanline
                    # volume so a deflate bomb can't balloon memory —
                    # anything past expected+1 means wrong size anyway
                    expected = h * (1 + 3 * w)
                    stream = zlib.decompressobj().decompress(
                        bytes(idat), expected + 1
                    )
                    if len(stream) != expected:
                        continue  # truncated / over-long pixel data
                    sum_r = sum_g = sum_b = 0
                    prior = bytes(3 * w)
                    for y in range(h):
                        base = y * (1 + 3 * w)
                        ft = stream[base]
                        if ft > 4:
                            raise ValueError("bad filter type")
                        line = stream[base + 1 : base + 1 + 3 * w]
                        raw = bytearray()
                        for i, v in enumerate(line):
                            left = raw[i - 3] if i >= 3 else 0
                            up = prior[i]
                            ul = prior[i - 3] if i >= 3 else 0
                            if ft == 1:
                                v += left
                            elif ft == 2:
                                v += up
                            elif ft == 3:
                                v += (left + up) // 2
                            elif ft == 4:
                                v += paeth(left, up, ul)
                            raw.append(v % 256)
                        sum_r += sum(raw[0::3])
                        sum_g += sum(raw[1::3])
                        sum_b += sum(raw[2::3])
                        prior = bytes(raw)
                except Exception:  # noqa: BLE001 — corrupt blob: skip row
                    continue
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["bit_depth"].append(depth)
                out["color_type"].append(ctype_n)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(sum_r)
                out["sum_g"].append(sum_g)
                out["sum_b"].append(sum_b)
            yield _pd.DataFrame(out)

    return df.mapInPandas(batch, schema=PNG_FEATURE_SCHEMA)


JPEG_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, n_blocks int, sum_luma long"
)


def _jpeg_codec_helpers():
    """Shared pure-Python baseline-JPEG machinery, returned as a dict of
    closures so mapInPandas batch functions can capture them BY VALUE
    (cloudpickle ships closure cells; a module-level reference would
    require this package importable on executors, which the driver
    contract forbids). Everything here is from the public JPEG spec
    (ITU-T T.81): orthonormal 8-point DCT basis, zigzag order, canonical
    Huffman code construction, and the DC-category/AC-run-length symbol
    conventions. The Huffman tables are OUR OWN (fixed-length canonical
    assignments) — JPEG carries its tables in the DHT segment, so
    encoder and decoder agree by reading the stream, not by both
    remembering Annex K."""
    import math

    import numpy as np

    # orthonormal DCT-II matrix: M[u, x] = alpha(u) cos((2x+1)u*pi/16)
    M = np.array(
        [
            [
                (math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8))
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    # T.81 zigzag: odd diagonals run u-ascending, even ones u-descending
    zig = sorted(
        ((u, v) for u in range(8) for v in range(8)),
        key=lambda t: (t[0] + t[1], t[0] if (t[0] + t[1]) % 2 else t[1]),
    )

    def canonical(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
        """symbol -> (code, nbits) canonical assignment; symbols sorted,
        all same length here so no all-ones code is ever reached."""
        out, code = {}, 0
        for sym in sorted(lengths):
            out[sym] = (code, lengths[sym])
            code += 1
        return out

    # DC categories 0..11 at 5 bits; AC (run,size) symbols + EOB + ZRL
    # at 9 bits. 162 < 511 and 12 < 31, so the all-ones code (reserved
    # by convention) is never assigned.
    dc_tbl = canonical({s: 5 for s in range(12)})
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_tbl = canonical({s: 9 for s in ac_syms})

    def dht_payload(tbl: dict[int, tuple[int, int]], cls: int, tid: int) -> bytes:
        counts = [0] * 16
        by_code = sorted(tbl.items(), key=lambda kv: kv[1][0])
        for _, (_, n) in by_code:
            counts[n - 1] += 1
        return bytes([cls << 4 | tid]) + bytes(counts) + bytes(
            s for s, _ in by_code
        )

    def category(v: int) -> int:
        return v.bit_length() if v >= 0 else (-v).bit_length()

    def amplitude_bits(v: int, size: int) -> int:
        return v if v >= 0 else v + (1 << size) - 1

    return {
        "np": np, "M": M, "zig": zig, "dc_tbl": dc_tbl, "ac_tbl": ac_tbl,
        "dht_payload": dht_payload, "category": category,
        "amplitude_bits": amplitude_bits,
    }


def synth_jpeg(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic grayscale BASELINE JPEGs built with a REAL encoder
    (stdlib + numpy): forward DCT per 8×8 block, quantization, zigzag,
    DC-DPCM + AC-run-length canonical-Huffman entropy coding with byte
    stuffing, and a full marker stream (SOI/APP0/DQT/SOF0/DHT×2/SOS/
    EOI) whose DHT segments carry the generated tables.

    Image shape derives from (doc_id, text): width 8·(1 + doc_id%3),
    height 8·(1 + len(text)%3); each 8×8 block is the CONSTANT luma
    (17·doc_id + 29·bx + 41·by) % 256. Constant blocks make the lossy
    pipeline exactly lossless (DC = 8·(v−128) with DC quant 8 divides
    exactly; AC quantizes to zero), so a SQL oracle can mirror the
    decoded features bit-for-bit — while the encoder itself is fully
    general (the arbitrary-image round trip is pinned with q=1 tables
    in tests/test_multimodal_codecs.py)."""
    import pandas as _pd

    helpers = _jpeg_codec_helpers()

    def encode(planes, quant) -> bytes:
        """1 plane = grayscale; 3 same-shape planes = interleaved 4:4:4
        color (Y, Cb, Cr), one MCU = one block per component, separate
        DC predictors, shared quant/Huffman tables (all id 0) — legal
        baseline JPEG either way."""
        import struct

        np = helpers["np"]
        M, zig = helpers["M"], helpers["zig"]
        dc_tbl, ac_tbl = helpers["dc_tbl"], helpers["ac_tbl"]
        category, amp = helpers["category"], helpers["amplitude_bits"]
        h, w = planes[0].shape
        qmat = np.empty((8, 8))
        for i, (u, v) in enumerate(zig):
            qmat[u, v] = quant[i]
        bits: list[tuple[int, int]] = []

        def put(code: int, n: int) -> None:
            bits.append((code, n))

        prev_dc = [0] * len(planes)
        for by in range(h // 8):
            for bx in range(w // 8):
                for ci, plane in enumerate(planes):
                    blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                    coef = M @ blk @ M.T
                    q = np.rint(coef / qmat).astype(int)
                    zz = [int(q[u, v]) for u, v in zig]
                    diff = zz[0] - prev_dc[ci]
                    prev_dc[ci] = zz[0]
                    size = category(diff)
                    put(*dc_tbl[size])
                    if size:
                        put(amp(diff, size), size)
                    run = 0
                    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
                    for i in range(1, last_nz + 1):
                        if zz[i] == 0:
                            run += 1
                            continue
                        while run > 15:
                            put(*ac_tbl[0xF0])  # ZRL
                            run -= 16
                        size = category(zz[i])
                        put(*ac_tbl[(run << 4) | size])
                        put(amp(zz[i], size), size)
                        run = 0
                    if last_nz < 63:
                        put(*ac_tbl[0x00])  # EOB
        # bitstream -> bytes, MSB first, 1-padded, 0xFF stuffed
        out = bytearray()
        acc, nacc = 0, 0
        for code, n in bits:
            acc = (acc << n) | (code & ((1 << n) - 1))
            nacc += n
            while nacc >= 8:
                byte = (acc >> (nacc - 8)) & 0xFF
                nacc -= 8
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
        if nacc:
            byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)

        def seg(marker: int, payload: bytes) -> bytes:
            return struct.pack(">HH", marker, len(payload) + 2) + payload

        dht = helpers["dht_payload"]
        nc = len(planes)
        sof_comps = b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(nc))
        sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
        return (
            b"\xff\xd8"  # SOI
            + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xFFDB, bytes([0]) + bytes(quant))
            + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
            + seg(0xFFC4, dht(helpers["dc_tbl"], 0, 0))
            + seg(0xFFC4, dht(helpers["ac_tbl"], 1, 0))
            + seg(0xFFDA, bytes([nc]) + sos_comps + bytes([0, 63, 0]))
            + bytes(out)
            + b"\xff\xd9"  # EOI
        )

    def encode_gray(pixels, quant) -> bytes:
        return encode([pixels], quant)

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        np = helpers["np"]
        # DC quant 8 (exact for constant blocks), AC 16 (kills rounding noise)
        quant = [8] + [16] * 63
        for pdf in batches:
            payloads = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                bw, bh = 1 + did % 3, 1 + len(txt) % 3
                px = np.empty((bh * 8, bw * 8))
                for by in range(bh):
                    for bx in range(bw):
                        px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            17 * did + 29 * bx + 41 * by
                        ) % 256
                payloads.append(encode_gray(px, quant))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    out = sel.mapInPandas(batch, schema="doc_id long, payload binary")
    out.encode_gray = encode_gray  # test hooks: the real encoder, directly
    out.encode = encode
    return out


def decode_jpeg(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """REAL baseline JPEG decode (stdlib + numpy): marker walk, DQT /
    SOF0 / DHT parse (Huffman tables BUILT FROM THE STREAM — canonical
    reconstruction per T.81 C.2), entropy decode with byte unstuffing
    (DC DPCM categories, AC run-length with ZRL/EOB), dezigzag,
    dequantize, full 2-D IDCT, level shift — then luma features.

    Scope: 1-component (grayscale) or 3-component interleaved 4:4:4
    (YCbCr) 8-bit baseline, per-component quant/Huffman table
    selection and DC predictors; no subsampling, restart markers, or
    progressive — anything else, plus truncated streams and malformed
    codes, is SKIPPED, not fatal (same corrupt-blob policy as every
    decoder here). Emitted features use the FIRST component (luma);
    chroma sums come back from the decode hook for tests.
    Progressive/MP3-class codecs remain the honestly-external gap.
    The IDCT is numpy matrix math per block — at thumbnail size the
    Python loop is fine; megapixel inputs would batch all blocks into
    one (n, 8, 8) einsum in the same mapInPandas slot."""
    import pandas as _pd

    helpers = _jpeg_codec_helpers()

    def decode_gray(buf: bytes):
        import struct

        np = helpers["np"]
        M, zig = helpers["M"], helpers["zig"]
        if buf[:2] != b"\xff\xd8":
            return None
        pos, quants, huff, sof = 2, {}, {}, None
        while pos + 4 <= len(buf):
            if buf[pos] != 0xFF:
                return None
            marker = (buf[pos] << 8) | buf[pos + 1]
            if marker == 0xFFD9:
                return None  # EOI before SOS
            (ln,) = struct.unpack_from(">H", buf, pos + 2)
            payload = buf[pos + 4 : pos + 2 + ln]
            if marker == 0xFFDB:
                p = 0
                while p < len(payload):
                    pq, tq = payload[p] >> 4, payload[p] & 0xF
                    if pq != 0:
                        return None  # only 8-bit tables
                    quants[tq] = list(payload[p + 1 : p + 65])
                    p += 65
            elif marker == 0xFFC0:
                prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
                if prec != 8 or ncomp not in (1, 3):
                    return None
                comps = []
                for ci in range(ncomp):
                    comp_id, sampling, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                    if sampling != 0x11:
                        return None  # 4:4:4 only (no subsampling)
                    comps.append((comp_id, tq))
                sof = (w, h, comps)
            elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
                return None  # non-baseline
            elif marker == 0xFFC4:
                p = 0
                while p < len(payload):
                    cls, tid = payload[p] >> 4, payload[p] & 0xF
                    counts = payload[p + 1 : p + 17]
                    nsym = sum(counts)
                    syms = payload[p + 17 : p + 17 + nsym]
                    table, code, k = {}, 0, 0
                    for nbits in range(1, 17):
                        for _ in range(counts[nbits - 1]):
                            table[(nbits, code)] = syms[k]
                            code += 1
                            k += 1
                        code <<= 1
                    huff[(cls, tid)] = table
                    p += 17 + nsym
            elif marker == 0xFFDA:
                ns = payload[0]
                if sof is None or ns != len(sof[2]):
                    return None
                scan = []
                for ci in range(ns):
                    scan.append((payload[2 + 2 * ci] >> 4, payload[2 + 2 * ci] & 0xF))
                data_start = pos + 2 + ln
                break
            pos += 2 + ln
        else:
            return None
        w, h, comps = sof
        if w == 0 or h == 0 or w * h > (1 << 24):
            return None  # absurd SOF dims: don't pre-allocate planes
        qmats = []
        for (comp_id, tq), (td, ta) in zip(comps, scan):
            if tq not in quants or (0, td) not in huff or (1, ta) not in huff:
                return None
            qmat = np.empty((8, 8))
            for i, (u, v) in enumerate(zig):
                qmat[u, v] = quants[tq][i]
            qmats.append((qmat, huff[(0, td)], huff[(1, ta)]))
        # unstuff entropy bytes up to EOI
        data = bytearray()
        p = data_start
        while p < len(buf):
            b = buf[p]
            if b == 0xFF:
                nxt = buf[p + 1] if p + 1 < len(buf) else 0xD9
                if nxt == 0x00:
                    data.append(0xFF)
                    p += 2
                    continue
                break  # real marker (EOI) ends entropy data
            data.append(b)
            p += 1

        bitpos = 0
        nbits_total = 8 * len(data)

        def read_bit() -> int:
            nonlocal bitpos
            if bitpos >= nbits_total:
                raise ValueError("bitstream exhausted")
            b = (data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
            bitpos += 1
            return b

        def read_bits(n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def huff_decode(table) -> int:
            code, nbits = 0, 0
            while nbits < 17:
                code = (code << 1) | read_bit()
                nbits += 1
                sym = table.get((nbits, code))
                if sym is not None:
                    return sym
            raise ValueError("bad huffman code")

        def extend(v: int, size: int) -> int:
            return v if v >= (1 << (size - 1)) else v - (1 << size) + 1

        bw, bh = (w + 7) // 8, (h + 7) // 8
        planes = [np.empty((bh * 8, bw * 8)) for _ in comps]
        prev_dc = [0] * len(comps)
        for by in range(bh):
            for bx in range(bw):
                for ci, (qmat, dc_t, ac_t) in enumerate(qmats):
                    zz = [0] * 64
                    size = huff_decode(dc_t)
                    diff = extend(read_bits(size), size) if size else 0
                    prev_dc[ci] += diff
                    zz[0] = prev_dc[ci]
                    i = 1
                    while i < 64:
                        sym = huff_decode(ac_t)
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            i += 16
                            continue
                        run, size = sym >> 4, sym & 0xF
                        i += run
                        if i > 63 or size == 0:
                            raise ValueError("bad AC symbol")
                        zz[i] = extend(read_bits(size), size)
                        i += 1
                    coef = np.zeros((8, 8))
                    for i, (u, v) in enumerate(zig):
                        coef[u, v] = zz[i] * qmat[u, v]
                    blk = M.T @ coef @ M + 128.0
                    planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        sums = [
            int(np.clip(np.rint(p[:h, :w]), 0, 255).astype(int).sum())
            for p in planes
        ]
        return w, h, bw * bh, sums

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("doc_id", "width", "height", "n_blocks", "sum_luma")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in cols}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    decoded = decode_gray(bytes(payload))
                except Exception:  # noqa: BLE001 — corrupt blob: skip row
                    decoded = None
                if decoded is None:
                    continue
                w, h, nb, sums = decoded
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["n_blocks"].append(nb)
                out["sum_luma"].append(sums[0])
            yield _pd.DataFrame(out)

    out = df.mapInPandas(batch, schema=JPEG_FEATURE_SCHEMA)
    out.decode_gray = decode_gray  # test hook: the real decoder, directly
    return out


def frame_sample(df: DataFrame, binary_col: str = "payload", every_n: int = 10) -> DataFrame:
    """Video frame sampling. STUB — deterministic fake: one 'frame marker'
    row per ``every_n`` bytes, exercising the explode/fan-out shape a real
    frame sampler produces."""
    n_frames = (F.octet_length(F.col(binary_col)) / every_n).cast("int")
    return df.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames)))
