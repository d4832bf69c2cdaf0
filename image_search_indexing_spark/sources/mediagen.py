"""Deterministic closed-form media payloads for the synthetic corpus.

The sandbox has no WARC payload bytes, but the byte-digest dedup path
(F3/F9/P2 — SHA-256 of content, magic sniff, size gates:
``utils/ImageParse.java:116-124``, ``DupDigestMergerJob.java:151-174``)
must be exercised END-TO-END against the DuckDB oracle. This module
synthesizes a ``media(url, payload)`` table from the corpus's own image
URLs with payload bytes that are a pure closed-form function of the URL,
so DuckDB can rebuild the identical bytes in SQL and check
``sha256(payload)`` digests, parsed dimensions and gate decisions
value-for-value.

Construction (mirrored in ``__spark_entry__._INDEXER_MEDIA_*`` SQL):

- ``img_id`` = the numeric stem of the synthetic image path
  (``/img/{img_id}.{ext}``); URLs that don't match get no payload.
- ``k = img_id % 97`` — the CONTENT key: different ``img_id``s (different
  hosts/SURTs) sharing ``k`` get byte-identical payloads, so their
  SHA-256 digests merge across SURTs — the reference's actual dedup case.
- ``s = k % 13`` selects the fixture class:
  - ``s = 0``: 20×20 SVG (trips the P2 too-small gate),
  - ``s = 1``: 15001×15001 SVG (area > 15000², too-large gate),
  - ``s = 2``: plain text (no magic → ``application/octet-stream``,
    MIME_INVALID, dropped as unparseable),
  - otherwise: SVG with w = 51+(7k mod 1200), h = 51+(13k mod 900).
- URLs with ``img_id % 5 == 4`` get NO payload row (the path-digest
  fallback keeps working for them).

Payloads are pure-ASCII on purpose: DuckDB's ``sha256`` accepts only
VARCHAR, so oracle comparability requires payload bytes == UTF-8 string
bytes. SVG is a real image format the reference handles explicitly
(gif/svg branch in ``ImageParse.java``), and its dimensions are genuinely
parsed from the bytes by ``operators/multimodal.parse_image_dims`` —
binary containers (PNG/GIF/BMP/JPEG headers) are covered by unit tests
with handcrafted byte fixtures instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import spread

SVG_PREFIX = '<svg xmlns="http://www.w3.org/2000/svg" width="'


def synthetic_media(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """``(url, payload binary)`` rows for the synthetic image URLs in
    ``urls`` (deduplicated); see the module docstring for the closed form."""
    u = urls.select(F.col(url_col).alias("url")).distinct()
    img_id = F.regexp_extract("url", r"/img/(\d+)\.", 1)
    u = u.where(img_id != "").withColumn("__id", img_id.cast("long"))
    k = (F.col("__id") % 97).cast("long")
    s = k % 13
    w = (
        F.when(s == 0, F.lit(20))
        .when(s == 1, F.lit(15001))
        .otherwise((F.lit(51) + (k * 7) % 1200).cast("int"))
    )
    h = (
        F.when(s == 0, F.lit(20))
        .when(s == 1, F.lit(15001))
        .otherwise((F.lit(51) + (k * 13) % 900).cast("int"))
    )
    svg = F.concat(
        F.lit(SVG_PREFIX),
        w.cast("string"),
        F.lit('" height="'),
        h.cast("string"),
        F.lit('"><desc>k'),
        k.cast("string"),
        F.lit("</desc></svg>"),
    )
    body = F.when(s == 2, F.concat(F.lit("not-an-image: "), k.cast("string"))).otherwise(svg)
    return u.where(F.col("__id") % 5 != 4).select(
        "url", body.cast("binary").alias("payload")
    )


# ---------------------------------------------------------------------------
# BINARY closed-form payloads (round 4): real PNG / BMP / GIF / JPEG
# container bytes, still a pure function of the row key so the DuckDB
# oracle can rebuild the identical byte stream AS A HEX STRING (DuckDB's
# ``sha256`` only takes VARCHAR, so digest parity is checked over
# ``hex(payload)`` — equal hex digests prove the binary payloads match
# byte-for-byte). The real check rides on dimensions: Spark PARSES
# width/height out of the actual PNG IHDR / BMP BITMAPINFOHEADER / GIF
# logical-screen / JPEG SOF0 bytes (operators/multimodal.parse_image_dims)
# while the oracle knows the generator's ground truth, so a single header
# mis-parse breaks the row.
#
# Fixture classes, k = doc_id % 97, s = k % 11 (mirrored in
# ``__spark_entry__``'s media_dims SQL):
#   s = 0: 10×10 PNG        → P2 too-small gate
#   s = 1: 15001×15001 GIF  → P2 too-large (area) gate
#   s = 2: truncated PNG (8-byte signature only) → dims unparseable,
#           MIME still sniffs image/png (magic present)
#   s = 3: 81000×400 BMP    → passes gates (area 32.4M < 225M); both
#           dims ≥ 200 with aspect > 200:1, so the thumbnail box
#           truncates to 0 → NULL thumb dims (the reference's Scalr
#           failure path, ImageParse.java:146-163)
#   else:  container rotates k % 4 ∈ {png, bmp, gif, jpeg},
#           w = 16 + (7k mod 1200), h = 16 + (13k mod 900)
# ---------------------------------------------------------------------------


def _be4(col):  # 2-byte big-endian hex (JPEG/PNG-style network order)
    return F.format_string("%04X", col.cast("int"))


def _be8(col):  # 4-byte big-endian hex
    return F.format_string("%08X", col.cast("int"))


def _le4(col):  # 2-byte little-endian hex (GIF logical screen)
    c = col.cast("int")
    return F.format_string("%02X%02X", c % 256, (c / 256).cast("int") % 256)


def _le8(col):  # 4-byte little-endian hex (BMP BITMAPINFOHEADER)
    c = col.cast("int")
    return F.format_string(
        "%02X%02X%02X%02X",
        c % 256,
        (c / 256).cast("int") % 256,
        (c / 65536).cast("int") % 256,
        (c / 16777216).cast("int") % 256,
    )


PNG_SIG_HEX = "89504E470D0A1A0A"


def png_hex(w, h):
    """Minimal valid-shape PNG: signature + IHDR(w,h,8-bit RGBA) + IEND."""
    return F.concat(
        F.lit(PNG_SIG_HEX + "0000000D49484452"),
        _be8(w),
        _be8(h),
        F.lit("0806000000" + "00000000" + "0000000049454E44AE426082"),
    )


def bmp_hex(w, h):
    """BMP with a 40-byte BITMAPINFOHEADER (w/h little-endian at 18/22)."""
    return F.concat(
        F.lit("424D" + "46000000" + "00000000" + "36000000" + "28000000"),
        _le8(w),
        _le8(h),
        F.lit("0100" + "1800" + "00" * 24),
    )


def gif_hex(w, h):
    """GIF89a header: logical-screen w/h little-endian u16 + trailer."""
    return F.concat(F.lit("474946383961"), _le4(w), _le4(h), F.lit("0000003B"))


def jpeg_hex(w, h):
    """JPEG SOI + SOF0 (baseline) frame header + EOI; height precedes
    width in SOF, both big-endian u16 (ITU-T T.81 §B.2.2)."""
    return F.concat(
        F.lit("FFD8" + "FFC00011" + "08"),
        _be4(h),
        _be4(w),
        F.lit("03" + "011100" + "021101" + "031101" + "FFD9"),
    )


def _tiff_short_entry_hex(tag: int, val, le: bool):
    """One 12-byte IFD entry (SHORT, count 1, inline value) as hex."""
    t = f"{tag:04X}"
    tag_h = F.lit(t[2:] + t[:2] if le else t)
    typ_h = F.lit("0300" if le else "0003")
    cnt_h = F.lit("01000000" if le else "00000001")
    v = val.cast("int")
    val_h = (
        F.format_string("%02X%02X0000", v % 256, (v / 256).cast("int") % 256)
        if le else F.format_string("%02X%02X0000", (v / 256).cast("int") % 256, v % 256)
    )
    return F.concat(tag_h, typ_h, cnt_h, val_h)


def tiff_hex(w, h, le: bool = True):
    """Minimal TIFF: header + one IFD with ImageWidth/ImageLength SHORTs
    (inline values, next-IFD 0) — the bytes ``parse_image_dims``'s
    first-IFD walk consumes, in either byte order."""
    head = F.lit("49492A0008000000" if le else "4D4D002A00000008")
    n = F.lit("0200" if le else "0002")
    nxt = F.lit("00000000")
    return F.concat(
        head, n,
        _tiff_short_entry_hex(256, w, le),
        _tiff_short_entry_hex(257, h, le),
        nxt,
    )


def ico_hex(w, h):
    """Two-entry ICONDIR where the SECOND (larger, = w×h) entry must win
    the largest-icon selection; dims bytes use the 0-means-256 rule.
    Entry bodies are 4 placeholder bytes each (directory-only parse)."""
    def entry(wc, hc, off):
        wb = F.when(wc >= 256, F.lit(0)).otherwise(wc.cast("int"))
        hb = F.when(hc >= 256, F.lit(0)).otherwise(hc.cast("int"))
        return F.concat(
            F.format_string("%02X%02X", wb, hb),
            F.lit("0000" + "0100" + "2000" + "04000000"),
            F.format_string("%02X000000", F.lit(off)),
        )

    return F.concat(
        F.lit("000001000200"),
        entry(F.lit(4), F.lit(4), 38),
        entry(w, h, 42),
        F.lit("00000000" + "00000000"),
    )


def _le_hex(col, nbytes: int):
    """n-byte little-endian hex from a long — shift-based (no float
    division), safe for values past 2^53."""
    c = col.cast("long")
    parts = [
        (F.shiftrightunsigned(c, 8 * i) % 256).cast("int") for i in range(nbytes)
    ]
    return F.format_string("%02X" * nbytes, *parts)


# Constant bits of the 58-bit post-header VP8L stream of a solid-color
# image encoded with five single-symbol prefix codes (see webp_hex):
# bits 0-2: transform/meta-prefix/color-cache absent; per prefix code,
# (simple=1, num_symbols=1, 8-bit symbol) headers at bits 3/5, 14/16,
# 25/27, 36/38, 47/49; alpha symbol 255 at bits 39-46. The g/r/b symbol
# payloads slot into bits 6-13 / 17-24 / 28-35 without carries.
_WEBP_SOLID_BASE = (
    (1 << 3) | (1 << 5) | (1 << 14) | (1 << 16) | (1 << 25) | (1 << 27)
    | (1 << 36) | (1 << 38) | (255 << 39) | (1 << 47) | (1 << 49)
)


def webp_hex(w, h, r, g, b):
    """Closed-form FULLY VALID lossless WebP (VP8L, RFC 9649 §3) of a
    solid (r, g, b) image: five single-symbol prefix codes make every
    pixel cost zero bits, so the file is 34 bytes at ANY dims — and
    ``decode_webp`` reproduces the exact color. Structure: RIFF(26)
    'WEBP' + VP8L chunk(13): 0x2F sig, LE32 packed dims, LE64 of the
    five code headers + symbols (bit layout in ``_WEBP_SOLID_BASE``)."""
    hdr = (w.cast("long") - 1).bitwiseOR(F.shiftleft(h.cast("long") - 1, 14))
    body = (
        F.lit(_WEBP_SOLID_BASE)
        + F.shiftleft(g.cast("long"), 6)
        + F.shiftleft(r.cast("long"), 17)
        + F.shiftleft(b.cast("long"), 28)
    )
    return F.concat(
        F.lit("52494646" + "1A000000" + "57454250" + "5650384C" + "0D000000" + "2F"),
        _le_hex(hdr, 4),
        _le_hex(body, 8),
        F.lit("00"),  # RIFF pad byte (13-byte chunk)
    )


def synthetic_media_dims_ext(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, fmt, payload binary)`` — TIFF (both byte orders), ICO
    and lossless-WebP containers, dims a closed form of ``doc_id``
    (mirrored in the media_dims_ext oracle SQL): w = 16 + doc_id % 300
    (exercises the ICO 0-means-256 byte only below 256 — ICO rows cap
    at 255), h = 16 + doc_id % 200; s = doc_id % 4 rotates tiff-le /
    tiff-be / ico / webp (ICO w/h use min(w, 255), min(h, 255) — the
    dir entry is a byte). The WebP rows are complete VP8L files
    (``webp_hex``) — the REAL decoder, not just the dims parser, accepts
    them."""
    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))
    s = F.col("doc_id") % 4
    w = (F.lit(16) + F.col("doc_id") % 300).cast("int")
    h = (F.lit(16) + F.col("doc_id") % 200).cast("int")
    iw = F.least(w, F.lit(255))
    ih = F.least(h, F.lit(255))
    fmt = (
        F.when(s == 0, "tiff-le")
        .when(s == 1, "tiff-be")
        .when(s == 2, F.lit("ico"))
        .otherwise(F.lit("webp"))
    )
    hx = (
        F.when(s == 0, tiff_hex(w, h, le=True))
        .when(s == 1, tiff_hex(w, h, le=False))
        .when(s == 2, ico_hex(iw, ih))
        .otherwise(
            webp_hex(w, h, F.col("doc_id") % 256, (F.col("doc_id") * 7) % 256,
                     (F.col("doc_id") * 13) % 256)
        )
    )
    return d.select("doc_id", fmt.alias("fmt"), F.unhex(hx).alias("payload"))


# ---------------------------------------------------------------------------
# Closed-form AVI video payloads (round 4): structurally valid VfW AVI
# files — RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh 'vids/DIB ',
# strf BITMAPINFOHEADER}} → LIST(movi){'00db' frames} — with uncompressed
# 24-bit bottom-up BGR frames of a constant per-frame color, so the
# DuckDB oracle can state every decoded frame's channel means exactly
# while Spark's extract_video_frames walks the REAL container and
# decodes the REAL pixel bytes. Closed form (mirrored in the media_video
# oracle SQL): w = 8+4*(doc_id%3)  (all ≡0 mod 4 → no row padding),
# h = 8+8*(doc_id%2), n_frames = 1+doc_id%4, usec/frame =
# 40000+20000*(doc_id%3); frame f is constant RGB
# ((7d+13f)%256, (11d+17f)%256, (3d+29f)%256).
# ---------------------------------------------------------------------------


def _le(v: int, n: int) -> bytes:
    return int(v).to_bytes(n, "little")


def _avi_container_bytes(w: int, h: int, nf: int, upf: int, frame_body) -> bytes:
    """Bytes of a one-video-stream AVI (``vids``/``DIB ``, 24-bpp BI_RGB):
    ``RIFF [LIST hdrl [avih, LIST strl [strh, strf]], LIST movi
    [00db ...]]``. The header tree is fixed-shape, so its sizes (avih/strh
    56, strf 40, strl LIST 116, hdrl LIST 192) are spec constants.
    ``frame_body(f)`` returns frame f's pixel bytes (length w·h·3; callers
    keep w ≡ 0 mod 4 so DIB rows need no padding)."""
    fs = w * h * 3
    avih = (
        _le(upf, 4) + b"\x00" * 12 + _le(nf, 4) + b"\x00" * 4
        + _le(1, 4) + b"\x00" * 4 + _le(w, 4) + _le(h, 4) + b"\x00" * 16
    )
    strh = (
        b"vidsDIB " + b"\x00" * 8 + b"\x00" * 4
        + _le(upf, 4) + _le(1_000_000, 4) + b"\x00" * 4 + _le(nf, 4)
        + _le(fs, 4) + b"\xff\xff\xff\xff" + b"\x00" * 4
        + b"\x00" * 4 + _le(w, 2) + _le(h, 2)
    )
    strf = (
        _le(40, 4) + _le(w, 4) + _le(h, 4) + b"\x01\x00\x18\x00" + b"\x00" * 4
        + _le(fs, 4) + b"\x00" * 16
    )
    strl = b"strlstrh" + _le(56, 4) + strh + b"strf" + _le(40, 4) + strf
    hdrl = b"hdrlavih" + _le(56, 4) + avih + b"LIST" + _le(116, 4) + strl
    movi_body = 4 + nf * (fs + 8)
    movi = b"LIST" + _le(movi_body, 4) + b"movi" + b"".join(
        b"00db" + _le(fs, 4) + frame_body(f) for f in range(nf)
    )
    riff_size = movi_body + 8 + 200 + 4
    return b"RIFF" + _le(riff_size, 4) + b"AVI LIST" + _le(192, 4) + hdrl + movi


def synthetic_media_avi(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, payload binary)`` — real AVI containers, closed-form
    from ``doc_id`` (see the layout comment above). Built Python-side in
    Arrow batches like ``synthetic_media_thumb_pixels``: the former
    per-pixel ``format_string``-in-``transform`` hex build is a
    CodegenFallback HOF that re-evaluates the closed form per element
    (~75 µs/pixel measured at sf1.0 — generation dominated the whole
    media query); byte-building in numpy/bytes is ~1000x cheaper and the
    emitted bytes are IDENTICAL (pinned by tests)."""
    import pandas as pd

    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))

    def _gen(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + (did % 3) * 4, 8 + (did % 2) * 8
                nf, upf = 1 + did % 4, 40000 + (did % 3) * 20000

                def body(f: int) -> bytes:
                    pix = bytes(
                        ((did * 3 + f * 29) % 256, (did * 11 + f * 17) % 256,
                         (did * 7 + f * 13) % 256)
                    )
                    return pix * (w * h)

                payloads.append(_avi_container_bytes(w, h, nf, upf, body))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(_gen, "doc_id long, payload binary")


# ---------------------------------------------------------------------------
# Closed-form BMP payloads WITH PIXEL DATA (round 4): real bottom-up
# 24-bit BGR bitmaps whose every pixel is a pure function of the row key,
# feeding the perceptual-hash (pHash) visual near-dup path. Closed form
# (mirrored in the media_phash oracle SQL):
#   k = doc_id % 41   — content key: docs sharing k show the SAME base
#                       image (visual duplicates across distinct docs)
#   v = doc_id % 3    — variant: a global +v shift on the R channel
#                       (mod 256) — a visually-near variant, so same-k
#                       different-v pairs land at small pHash Hamming
#                       distance while same-k same-v pairs are exact
#   w = 16 + 4*(k % 5)  (16..32, always ≡ 0 mod 4 → no BMP row padding)
#   h = 16 + 8*(k % 3)
#   B(x,y) = (3k + 5x + 11y) % 256
#   G(x,y) = (7k + 13x + 3y) % 256
#   R(x,y) = (11k + 2x + 7y + v) % 256
# ---------------------------------------------------------------------------


def synthetic_media_avi_pixels(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, payload binary)`` — real AVI containers whose DIB
    frames carry PER-PIXEL closed-form content (unlike
    ``synthetic_media_avi``'s constant-color frames, whose pHash would
    degenerate to 0), feeding the video-fingerprint near-dup path.
    Closed form (mirrored in the media_video_fp oracle SQL):
      kk = doc_id % 23  — content key (same kk = same video)
      v  = doc_id % 2   — variant: +v on the R channel of FRAME 0 only,
                          so same-kk cross-v docs still share every
                          later frame fingerprint
      w = 8 + 4·(kk % 3) (≡ 0 mod 4 → no row padding), h = 8 + 8·(kk % 2)
      nf = 3 + kk % 2 frames (so cross-v pairs always share ≥ 2 frames);
      frame f pixel (x, y) — the quadratic terms give the tiny frames
      real spectral variety (pure gradients collide in the 8×8 DCT):
      B = (3kk + 5x + 11y + 17f + xy) % 256
      G = (7kk + 13x + 3y + 23f + 2x²) % 256
      R = (11kk + 2x + 7y + 29f + 3y² + v·[f = 0]) % 256
    """
    import numpy as np
    import pandas as pd

    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))

    def _payload(kk: int, v: int) -> bytes:
        w, h = 8 + (kk % 3) * 4, 8 + (kk % 2) * 8
        nf = 3 + kk % 2
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]

        def body(f: int) -> bytes:
            b = (kk * 3 + x * 5 + y * 11 + 17 * f + x * y) % 256
            g = (kk * 7 + x * 13 + y * 3 + 23 * f + x * x * 2) % 256
            r = (kk * 11 + x * 2 + y * 7 + 29 * f + y * y * 3
                 + (v if f == 0 else 0)) % 256
            px = np.stack(np.broadcast_arrays(b, g, r), axis=-1).astype(np.uint8)
            return px[::-1].tobytes()  # bottom-up rows

        return _avi_container_bytes(w, h, nf, 40000, body)

    def _gen(it):
        memo: dict[tuple[int, int], bytes] = {}  # 46 (kk, v) content classes
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                key = (int(did) % 23, int(did) % 2)
                p = memo.get(key)
                if p is None:
                    p = memo[key] = _payload(*key)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(_gen, "doc_id long, payload binary")


def synthetic_media_bmp_pixels(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, payload binary)`` — real 24-bit BMPs, every pixel a
    closed form of ``doc_id`` (see the layout comment above). Built
    Python-side in Arrow batches (like ``synthetic_media_thumb_pixels``):
    the former per-pixel ``format_string``-in-``transform`` hex build is
    a CodegenFallback HOF re-evaluating the closed form per element
    (measured ~68 s for 50k images at sf1.0 — generation dominated the
    whole pHash query); numpy builds the identical bytes ~1000x cheaper
    (pinned byte-equal by tests), and the 123 (k, v) content classes are
    memoized per task."""
    import numpy as np
    import pandas as pd

    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))

    def _payload(k: int, v: int) -> bytes:
        w, h = 16 + (k % 5) * 4, 16 + (k % 3) * 8
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        b = (k * 3 + x * 5 + y * 11) % 256
        g = (k * 7 + x * 13 + y * 3) % 256
        r = (k * 11 + x * 2 + y * 7 + v) % 256
        px = np.stack(np.broadcast_arrays(b, g, r), axis=-1).astype(np.uint8)
        header = (
            bytes.fromhex("424D46000000000000003600000028000000")
            + int(w).to_bytes(4, "little") + int(h).to_bytes(4, "little")
            + bytes.fromhex("01001800") + b"\x00" * 24
        )
        return header + px[::-1].tobytes()  # bottom-up row order

    def _gen(it):
        memo: dict[tuple[int, int], bytes] = {}
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                key = (int(did) % 41, int(did) % 3)
                p = memo.get(key)
                if p is None:
                    p = memo[key] = _payload(*key)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(_gen, "doc_id long, payload binary")


# ---------------------------------------------------------------------------
# Closed-form WAV payloads WITH VARYING SAMPLES (round 4): real 8-bit PCM
# mono RIFF/WAVE files whose every sample is a pure function of the row
# key, feeding the audio-fingerprint near-dup path. Closed form (mirrored
# in the media_audio_fp oracle SQL):
#   kk = doc_id % 29  — content key (docs sharing kk play the SAME audio)
#   v  = doc_id % 2   — variant: +1 on samples g < 64 with g % 16 == 0
#                       (perturbs only the first two WHT frames, so
#                       same-kk cross-v pairs still match >= 9 of their
#                       12 subfingerprints — the near-dup case)
#   n  = 416 samples (13 frames of 32)  @ 8 kHz, unsigned 8-bit
#   s(g) = (((g + 3·kk)²) % 251 + (g·(kk % 13 + 1)) % 31 · 3 + perturb) % 256
#   (kk enters as a TIME SHIFT and a frequency multiplier, not a constant
#   offset — a constant dies in the non-DC WHT bands and would make every
#   content class fingerprint-identical)
# ---------------------------------------------------------------------------


def wav_header_hex(n):
    """Hex of a RIFF/WAVE header for ``n`` bytes of 8-bit mono 8 kHz PCM
    (``n`` may be an int or a Column): RIFF size, ``fmt `` chunk (PCM,
    mono, rate 8000, byterate 8000, block align 1, 8 bits), ``data``
    size — the single place the WAV layout lives (shared by this
    module's sample generator and ``__spark_entry__``'s media_audio)."""
    n = n if hasattr(n, "cast") else F.lit(n)
    return F.concat(
        F.lit("52494646"), _le8(n + 36), F.lit("57415645"),  # RIFF/WAVE
        F.lit("666D7420"), _le8(F.lit(16)),                   # fmt chunk
        F.lit("0100" + "0100"), _le8(F.lit(8000)),            # PCM, mono, 8 kHz
        _le8(F.lit(8000)), F.lit("0100" + "0800"),            # byterate, align, 8-bit
        F.lit("64617461"), _le8(n),                           # data chunk
    )


def synthetic_media_wav_samples(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, payload binary)`` — real PCM WAV files, every sample a
    closed form of ``doc_id`` (see the layout comment above). Built
    Python-side in Arrow batches (same rationale as
    ``synthetic_media_bmp_pixels``: the per-sample hex HOF re-evaluated
    the closed form per element); bytes identical, 58 (kk, v) content
    classes memoized per task."""
    import numpy as np
    import pandas as pd

    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))
    n = 416
    header = (
        b"RIFF" + _le(n + 36, 4) + b"WAVE"
        + b"fmt " + _le(16, 4)
        + b"\x01\x00\x01\x00" + _le(8000, 4)
        + _le(8000, 4) + b"\x01\x00\x08\x00"
        + b"data" + _le(n, 4)
    )

    def _payload(kk: int, v: int) -> bytes:
        g = np.arange(n, dtype=np.int64)
        base = ((g + kk * 3) ** 2) % 251 + (g * (kk % 13 + 1)) % 31 * 3
        pert = ((v == 1) & (g < 64) & (g % 16 == 0)).astype(np.int64)
        return header + ((base + pert) % 256).astype(np.uint8).tobytes()

    def _gen(it):
        memo: dict[tuple[int, int], bytes] = {}
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                key = (int(did) % 29, int(did) % 2)
                p = memo.get(key)
                if p is None:
                    p = memo[key] = _payload(*key)
                payloads.append(p)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(_gen, "doc_id long, payload binary")


def synthetic_media_binary(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, fmt, payload binary)`` — real binary image containers,
    closed-form from ``doc_id`` (see classes above). ``payload`` is
    ``unhex`` of the constructed hex, so the downstream parser reads
    genuine non-ASCII bytes (PNG magic ``\\x89``, 0x00 length fields, …)."""
    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))
    k = F.col("doc_id") % 97
    s = k % 11
    fmt_rot = k % 4
    w = (
        F.when(s == 0, F.lit(10))
        .when(s == 1, F.lit(15001))
        .when(s == 3, F.lit(81000))
        .otherwise((F.lit(16) + (k * 7) % 1200).cast("int"))
    )
    h = (
        F.when(s == 0, F.lit(10))
        .when(s == 1, F.lit(15001))
        .when(s == 3, F.lit(400))
        .otherwise((F.lit(16) + (k * 13) % 900).cast("int"))
    )
    fmt = (
        F.when(s == 0, F.lit("png"))
        .when(s == 1, F.lit("gif"))
        .when(s == 2, F.lit("png"))
        .when(s == 3, F.lit("bmp"))
        .when(fmt_rot == 0, F.lit("png"))
        .when(fmt_rot == 1, F.lit("bmp"))
        .when(fmt_rot == 2, F.lit("gif"))
        .otherwise(F.lit("jpeg"))
    )
    hx = (
        F.when(s == 2, F.lit(PNG_SIG_HEX))
        .when(fmt == "png", png_hex(w, h))
        .when(fmt == "bmp", bmp_hex(w, h))
        .when(fmt == "gif", gif_hex(w, h))
        .otherwise(jpeg_hex(w, h))
    )
    return d.select(
        "doc_id", fmt.alias("fmt"), F.unhex(hx).alias("payload")
    )


# ---------------------------------------------------------------------------
# Closed-form FULL-PIXEL payloads across the re-encodable containers
# (round 5): feeds the media_thumbs source-MIME re-encode gate. Layout
# (mirrored in the media_thumbs oracle SQL):
#   k = doc_id % 53 ; s = k % 5 → png | bmp | tiff | jpeg | gif
#   w = 120 + (k*7) % 120 ; h = 120 + (k*11) % 120   (over the 200-box
#       only when BOTH dims reach 200 — both resize and no-op paths run)
#   img[y, x, c] = (x*3 + y*5 + c*17 + k) % 256       (s < 4)
# gif rows carry a header-only GIF89a logical screen — the reference's
# passthrough branch never decodes gif pixels (ImageParse.java:131-134).
# ---------------------------------------------------------------------------


def synthetic_media_thumb_pixels(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, payload binary)`` — REAL decodable images across the
    four re-encodable containers plus a gif passthrough row (layout
    comment above). Built Python-side in Arrow batches: png/jpeg bodies
    are zlib/entropy-coded, which no JVM closed form can express."""
    import numpy as np
    import pandas as pd

    from ..operators import multimodal as MM

    d = spread(docs.select(F.col(id_col).cast("long").alias("doc_id")))

    def _gen(it):
        chans = np.arange(3)[None, None, :]
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                k = int(did) % 53
                s = k % 5
                w = 120 + (k * 7) % 120
                h = 120 + (k * 11) % 120
                if s == 4:
                    payloads.append(
                        b"GIF89a"
                        + bytes([w % 256, w // 256, h % 256, h // 256, 0, 0, 0])
                        + b";"
                    )
                    continue
                yg, xg = np.mgrid[0:h, 0:w]
                img = (
                    (xg[..., None] * 3 + yg[..., None] * 5 + chans * 17 + k) % 256
                ).astype(np.uint8)
                enc = (
                    MM.encode_png,
                    MM.encode_bmp,
                    MM.encode_tiff,
                    MM.encode_jpeg,
                )[s]
                payloads.append(enc(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(_gen, "doc_id long, payload binary")
