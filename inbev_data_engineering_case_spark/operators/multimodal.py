"""Multimodal columns: media payloads as opaque ``binary`` columns with a
typed metadata struct, processed through Arrow-batched ``mapInPandas``.

The surface the catalog and the curation gate use:

- ``assets_from_documents`` lands the documents' text as ``text/plain``
  payloads; ``decode_features`` featurizes them with a deterministic
  byte-sum stand-in (checksum plus ``[n_bytes, mean, first, last]``)
  that the ``q_multimodal_features`` oracle reproduces in SQL.
- ``sample_frames`` is the 1→N explode: each payload is cut into
  fixed-size byte chunks and every n-th chunk is kept
  (``q_frame_sample``).
- ``image_dhash`` computes a 64-bit perceptual difference hash over a
  decoded raster; ``image_near_dup_pairs`` and ``image_near_dup_keep``
  bucket those hashes into Hamming near-dup pairs and min-id survivors
  (``q_image_dedup`` and ``curate_corpus(asset_near_dup=...)``).
  ``pnm_assets_from_documents`` builds the deterministic PNM fixture
  those queries run on.

``decode_features(real_decoder=True)`` swaps the stand-in for decoders
built from the stdlib and numpy, covering the lossless formats only:
BMP, binary PNM, PNG and GIF images and WAV audio (integer and float
PCM, G.711). Every other image or audio format and all video (JPEG,
WebP, FLAC, mp3, YUV4MPEG2, MP4, ...) raise ``NotImplementedError``.
At the operator level every decode error is dead-lettered, not raised:
the row keeps ``decode_ok=false``, the message in ``error`` and, for
features, a ``reason`` code (``decoder_gap`` for a deliberately
unsupported format, ``corrupt`` for a malformed payload);
``strict=True`` raises instead. One undecodable asset flags its row
rather than failing the job.

The distributed shape is the production one: Arrow batches move
payload bytes from the JVM columnar buffers into Python once per
batch, the transforms are shuffle-free, and the metadata struct
travels with the payload so filters can prune before any decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inbev_data_engineering_case_spark.session import materialize

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("source", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def _dead_letter_reason(e: BaseException) -> str:
    """Machine-usable dead-letter reason code, separating the two failure
    populations a corpus QA report sizes apart:

    - ``decoder_gap`` — a format the native decoders deliberately refuse
      (every ``NotImplementedError``: lossy/codec-bound images, audio
      and video, table-bound WAV tags, exotic bit depths). A decoder
      investment recovers these.
    - ``corrupt`` — a malformed payload (anything else). No decoder
      investment recovers these.

    The human-readable detail stays in ``error``."""
    return (
        "decoder_gap" if isinstance(e, NotImplementedError) else "corrupt"
    )


def assets_from_documents(documents: DataFrame) -> DataFrame:
    """Build a multimodal asset table from the documents fixture: the text
    payload stands in for media bytes (deterministic, so tests and oracles
    agree). Real pipelines land payloads the same way: binary column +
    metadata struct."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _fake_featurize(payload: bytes) -> tuple[int, list[float]]:
    """Deterministic stand-in for a media decoder: byte-sum checksum and a
    tiny moment vector. Pure function of the bytes — reproducible anywhere."""
    n = len(payload)
    checksum = sum(payload) % 1_000_003
    mean = sum(payload) / n if n else 0.0
    first = float(payload[0]) if n else 0.0
    last = float(payload[-1]) if n else 0.0
    return checksum, [float(n), mean, first, last]


def _featurize_bmp(payload: bytes) -> tuple[int, list[float]]:
    """Pure-stdlib BMP featurization over the NORMALIZED raster: decode via
    ``_decode_image_pixels`` (top-down row order, BGR(A)→RGB, 8-bpp palette
    expanded through the color table), then [width, height, stored_bpp,
    mean pixel] with checksum = crc32 of the normalized pixels. Hashing the
    normalized raster — not the stored bytes — makes the fingerprint
    encoding-invariant: the same image as a paletted BMP, a paletted PNG,
    or a P6 PNM checksums identically, which is what cross-encoding
    near-dup detection over a scraped corpus needs. Row padding is
    stripped before hashing (undefined by the format)."""
    import struct
    import zlib

    import numpy as np

    pixels = _decode_image_pixels(payload)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    h, w = pixels.shape[0], pixels.shape[1]
    checksum = zlib.crc32(pixels.tobytes()) % 1_000_003
    mean_px = float(pixels.astype(np.float64).mean()) if pixels.size else 0.0
    return checksum, [float(w), float(h), float(bpp), mean_px]


def _pnm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary PNM (P5/P6) header → (width, height, channels,
    raster_offset). Whitespace/comment-tolerant; raises ValueError on any
    malformation (shared by featurize and ``_decode_image_pixels`` so
    both fail loud the same way)."""
    magic = payload[:2]
    channels = {b"P6": 3, b"P5": 1}.get(magic)
    if channels is None:
        raise ValueError("not a binary PNM payload (P5/P6 magic expected)")
    # header: magic, then width/height/maxval as ASCII ints separated by
    # whitespace, with '#'-to-EOL comments allowed anywhere between tokens
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        if i >= len(payload):
            raise ValueError("PNM header truncated")
        c = payload[i]
        if c in b" \t\r\n":
            i += 1
        elif c == ord("#"):
            while i < len(payload) and payload[i] != ord("\n"):
                i += 1
        elif ord("0") <= c <= ord("9"):
            j = i
            while j < len(payload) and ord("0") <= payload[j] <= ord("9"):
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        else:
            raise ValueError(f"malformed PNM header at byte {i}")
    width, height, maxval = tokens
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported PNM maxval {maxval} (8-bit only)")
    # exactly ONE whitespace byte separates maxval from the raster
    if payload[i : i + 1] not in (b" ", b"\t", b"\r", b"\n"):
        raise ValueError(
            f"malformed PNM header at byte {i} (whitespace expected "
            "after maxval)"
        )
    return width, height, channels, i + 1


def _featurize_pnm(payload: bytes) -> tuple[int, list[float]]:
    """Pure-stdlib binary PNM decode (P6 PPM = RGB, P5 PGM = gray, 8-bit
    maxval): whitespace/comment-tolerant header tokenizer, then the raster
    straight out of numpy. Feature = [width, height, channels, mean sample];
    checksum = crc32 of the raster."""
    import zlib

    import numpy as np

    width, height, channels, offset = _pnm_header(payload)
    count = width * height * channels
    if offset + count > len(payload):
        raise ValueError("PNM raster truncated")
    raster = np.frombuffer(payload, dtype=np.uint8, count=count, offset=offset)
    checksum = zlib.crc32(raster.tobytes()) % 1_000_003
    mean_px = float(raster.astype(np.float64).mean()) if raster.size else 0.0
    return checksum, [float(width), float(height), float(channels), mean_px]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> samples/px


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step)


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF-variant LZW decode (variable code width ``min+1``..12 bits,
    LSB-first bit packing, in-stream CLEAR/EOI codes). Returns exactly
    ``expected`` palette indices; raises ValueError on a corrupt stream.
    Pure Python, but bounded: each code appends at least one output byte,
    so the loop runs at most ``expected`` + dictionary-reset times."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + code_size <= total_bits and len(out) < expected:
        byte_i, bit_o = divmod(bitpos, 8)
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> bit_o) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            del table[clear + 2 :]
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or not table[code]:
                raise ValueError("GIF LZW: bad first code after clear")
            entry = table[code]
        else:
            if code < len(table) and (table[code] or code < clear):
                entry = table[code]
            elif code == len(table):  # the KwK special case
                entry = prev + prev[:1]
            else:
                raise ValueError("GIF LZW: code out of range")
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError(
            f"GIF LZW: raster truncated ({len(out)} of {expected} pixels)"
        )
    return bytes(out[:expected])


def _gif_decode_pixels(payload: bytes):
    """Pure-stdlib GIF decode (GIF87a/89a, first frame) → (h, w, 3) uint8
    RGB. See ``_gif_decode``."""
    return _gif_decode(payload)[0]


def _gif_decode(payload: bytes):
    """Pure-stdlib GIF decode (GIF87a/89a, first frame) → ((h, w, 3)
    uint8 RGB pixels, color_table_entries): logical-screen + color-table
    walk, extension-block skip, LZW raster decode, interlace reorder,
    palette expansion — mirroring the paletted-BMP/PNG normalization so
    the same image stored as GIF checksums/fingerprints identically.
    ``color_table_entries`` is the size of the table the frame actually
    used (local wins over global), for depth reporting. Animated GIFs
    yield frame 1 (the still-image semantics every thumbnailer uses).
    A first frame that is a SUB-RECTANGLE of the logical screen (some
    optimizers crop it) is composed onto the full screen canvas at its
    (left, top) offset over the background color — like PIL — so the
    decoded raster always has the logical-screen dimensions and the
    cross-encoding checksum contract holds."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("GIF header truncated")
    screen_w, screen_h = struct.unpack_from("<HH", payload, 6)
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + n * 3 > len(payload):
            raise ValueError("GIF global color table truncated")
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(-1, 3)
        pos += n * 3
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + data sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("GIF image descriptor truncated")
            left, top, w, h = struct.unpack_from("<HHHH", payload, pos + 1)
            ipacked = payload[pos + 9]
            pos += 10
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                if pos + n * 3 > len(payload):
                    raise ValueError("GIF local color table truncated")
                table = np.frombuffer(
                    payload, np.uint8, n * 3, pos
                ).reshape(-1, 3)
                pos += n * 3
            if table is None:
                raise ValueError("GIF image has no color table")
            if w <= 0 or h <= 0:
                raise ValueError("GIF image has empty dimensions")
            # bound BOTH declared geometries BEFORE any raster work: the
            # LZW decode + palette expansion allocate O(w*h) (and the
            # screen canvas O(screen area)) — a small payload declaring
            # huge dimensions must dead-letter before those allocations,
            # not OOM inside them
            if w * h > 64_000_000 or screen_w * screen_h > 64_000_000:
                raise ValueError(
                    f"GIF dimensions exceed the 64M-pixel decode bound "
                    f"(frame {w}x{h}, screen {screen_w}x{screen_h})"
                )
            # a frame extending beyond the logical screen in ANY
            # direction is corrupt (PIL crops; we dead-letter — the
            # checksum could never match the image's other encodings)
            if left + w > screen_w or top + h > screen_h:
                raise ValueError(
                    "GIF frame overhangs the logical screen "
                    f"({left},{top})+{w}x{h} vs {screen_w}x{screen_h}"
                )
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(data), min_code, w * h), np.uint8
            ).reshape(h, w)
            if ipacked & 0x40:  # interlaced: reorder the four passes
                ordered = np.empty_like(idx)
                src = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    n_rows = len(range(start, h, step))
                    ordered[start:h:step] = idx[src : src + n_rows]
                    src += n_rows
                idx = ordered
            if int(idx.max(initial=0)) >= len(table):
                raise ValueError("GIF palette index out of range")
            pixels = table[idx]
            full_w, full_h = screen_w, screen_h
            if (full_w, full_h) != (w, h) or (left, top) != (0, 0):
                # compose the sub-rect onto the logical screen over the
                # background color (PIL's frame-1 semantics)
                # the background index is defined against the GLOBAL
                # table (the logical screen's), not the frame's local one
                bg = (
                    gct[bg_index]
                    if gct is not None and bg_index < len(gct)
                    else np.zeros(3, np.uint8)
                )
                canvas = np.empty((full_h, full_w, 3), np.uint8)
                canvas[:, :] = bg
                canvas[top : top + h, left : left + w] = pixels
                pixels = canvas
            return np.ascontiguousarray(pixels), len(table)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def _featurize_gif(payload: bytes) -> tuple[int, list[float]]:
    """GIF featurization over the NORMALIZED (palette-expanded) raster,
    the same encoding-invariance contract as ``_featurize_bmp``: the
    identical image stored as GIF, paletted BMP/PNG, or P6 PNM checksums
    identically. Bit depth = index width of the color table the frame
    ACTUALLY used (local table wins) — the logical-screen packed bits
    describe only the global table and are meaningless when a local one
    is present or the global flag is unset."""
    import math
    import zlib

    import numpy as np

    pixels, table_entries = _gif_decode(payload)
    h, w = pixels.shape[0], pixels.shape[1]
    depth = float(max(1, math.ceil(math.log2(table_entries))))
    checksum = zlib.crc32(pixels.tobytes()) % 1_000_003
    mean_px = float(pixels.astype(np.float64).mean()) if pixels.size else 0.0
    return checksum, [float(w), float(h), depth, mean_px]


def _png_decode(payload: bytes):
    """Pure-stdlib PNG decode (8-bit, non-interlaced, color types
    0/2/3/4/6): chunk walk → IHDR/PLTE/IDAT → ``zlib`` inflate →
    per-scanline unfiltering (all five filter types per the spec, §9).
    Returns ``(pixels, channels_out)`` with ``pixels`` an (h, w, c) uint8
    array, palette already expanded to RGB. Interlaced (Adam7) and 16-bit
    images raise — rare in training corpora and cheap to detect.

    Sub/Up unfilter vectorized with numpy (cumsum per byte-offset class /
    whole-row add); Average/Paeth are inherently sequential along the row
    (each byte depends on the reconstructed left neighbor), so those rows
    fall back to a per-byte loop — correctness-first; a production build
    would swap in a native decoder, which changes only this function."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    ihdr = None
    plte = None
    idat: list[bytes] = []
    pos = 8
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("PNG chunk truncated")
        pos += 12 + length  # data + 4-byte CRC
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    width, height, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or comp != 0 or filt != 0:
        raise ValueError(f"malformed PNG (color_type={color_type})")
    if depth != 8 or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant (bit_depth={depth}, "
            f"interlace={interlace}); 8-bit non-interlaced only"
        )
    stride = width * channels
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if raw.size != height * (1 + stride):
        raise ValueError("PNG raster truncated")
    raw = raw.reshape(height, 1 + stride)
    recon = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int64)
        if ftype == 0:  # None
            row = line
        elif ftype == 1:  # Sub: cumulative sum per byte-offset class
            row = line.copy()
            for r in range(bpp):
                row[r::bpp] = np.cumsum(line[r::bpp]) & 0xFF
        elif ftype == 2:  # Up
            row = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            row = line.copy()
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            row = line.copy()
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        recon[y] = row
        prev = row
    pixels = recon.astype(np.uint8).reshape(height, width, channels)
    if color_type == 3:  # palette -> RGB
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG missing/malformed PLTE")
        table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = pixels[:, :, 0]
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("PNG palette index out of range")
        pixels = table[idx]
        channels = 3
    return pixels, channels


def _featurize_png(payload: bytes) -> tuple[int, list[float]]:
    """Real PNG featurization: [width, height, channels, mean sample] over
    the decoded (palette-expanded) raster; checksum = crc32 of the raster —
    two encodings of the same image (different filter choices, different
    zlib levels) fingerprint identically, which is exactly what near-dup
    detection over a scraped image corpus needs."""
    import zlib

    pixels, channels = _png_decode(payload)
    checksum = zlib.crc32(pixels.tobytes()) % 1_000_003
    h, w = pixels.shape[0], pixels.shape[1]
    mean_px = float(pixels.astype("float64").mean()) if pixels.size else 0.0
    return checksum, [float(w), float(h), float(channels), mean_px]


def _parse_wav_raw(payload: bytes):
    """Minimal RIFF/WAVE chunk walk → (format_tag, n_channels,
    sample_rate, bits_per_sample, data bytes). Chunks are
    length-prefixed with word alignment. FIRST data chunk wins and the
    walk STOPS once fmt+data are both in hand — the stdlib ``wave``
    convention, and it keeps a sloppy trailer chunk (overshooting size
    field after the audio) from misfiling a decodable file as corrupt.
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolves to its subformat tag.
    Only fmt/data bodies are materialized; other chunks are skipped by
    offset (no per-chunk byte copy on the hot path)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: missing RIFF/WAVE header")
    pos, end = 12, len(payload)
    fmt = data = None
    while pos + 8 <= end and (fmt is None or data is None):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt " and fmt is None:
            fmt = payload[pos + 8:pos + 8 + size]
            if len(fmt) < size:
                raise ValueError("wav: fmt chunk truncated")
        elif cid == b"data" and data is None:
            data = payload[pos + 8:pos + 8 + size]
            if len(data) < size:
                raise ValueError("wav: data chunk truncated")
        pos += 8 + size + (size & 1)
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    tag, nch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", fmt)
    if tag == 0xFFFE:
        if len(fmt) < 26:
            # no SubFormat GUID = a truncation, not a codec gap
            raise ValueError("wav: extensible fmt chunk truncated")
        tag = struct.unpack_from("<H", fmt, 24)[0]  # extensible subformat
    if nch <= 0 or rate <= 0:
        raise ValueError("wav: non-positive channels/rate")
    return tag, nch, rate, bits, data


_G711_TABLES: dict = {}


def _g711_table(law: str):
    """The 256-entry G.711 expansion GENERATED from the standard's
    companding formulas (segment exponent + mantissa; µ-law bias 0x84,
    A-law alternate-bit inversion 0x55) — never transcribed. Endpoint
    identities (µ-law 0x80 → +32124, A-law 0xAA → +32256, both ±0
    codes → 0/±8) are pinned in tests."""
    import numpy as np

    if law in _G711_TABLES:  # built once per worker, not per asset
        return _G711_TABLES[law]
    codes = np.arange(256, dtype=np.int32)
    if law == "ulaw":
        u = ~codes & 0xFF
        exp = (u >> 4) & 7
        mant = u & 0x0F
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        table = np.where(u & 0x80, -mag, mag).astype(np.int16)
    elif law == "alaw":
        a = codes ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        t = np.where(
            exp == 0,
            (mant << 4) + 8,
            ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
        )
        table = np.where(codes & 0x80, t, -t).astype(np.int16)
    else:
        raise ValueError("g711: unknown law %r" % law)
    _G711_TABLES[law] = table
    return table


def _wav_linear(tag: int, bits: int, data: bytes):
    """Decode one WAV data chunk to linear samples → ``(samples,
    canon)``: the sample array plus the canonical little-endian bytes
    the fingerprint hashes. Integer PCM canonicalizes to SIGNED LE at
    every width (WAV 8-bit is unsigned, offset 128, and hashes as the
    signed samples it stores); G.711 expands through the
    formula-generated tables and fingerprints the EXPANDED int16 (the
    companded bytes are a wire format, not the audio); float PCM
    (tag 3) fingerprints its native [-1, 1] samples. Table-bound tags
    (ADPCM/GSM/mp3-in-wav) raise ``NotImplementedError`` → the
    ``decoder_gap`` reason."""
    import numpy as np

    if tag in (6, 7):
        if bits != 8:
            raise ValueError("g711: %d-bit samples (must be 8)" % bits)
        table = _g711_table("alaw" if tag == 6 else "ulaw")
        samples = table[np.frombuffer(data, dtype=np.uint8)]
        return samples, samples.astype("<i2").tobytes()
    if tag == 1:
        if bits == 8:
            samples = (
                np.frombuffer(data, dtype=np.uint8).astype(np.int16)
                - 128
            )
            return samples, samples.astype("i1").tobytes()
        if bits == 16:
            return np.frombuffer(data, dtype="<i2"), data
        if bits == 24:
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            u = (
                b[:, 0].astype(np.int64)
                | (b[:, 1].astype(np.int64) << 8)
                | (b[:, 2].astype(np.int64) << 16)
            )
            return (u ^ 0x800000) - 0x800000, data
        if bits == 32:
            return np.frombuffer(data, dtype="<i4"), data
        raise ValueError("wav: unsupported PCM bit depth %d" % bits)
    if tag == 3:  # IEEE float — uncompressed, no tables needed
        if bits == 32:
            samples = np.frombuffer(data, dtype="<f4")
        elif bits == 64:
            samples = np.frombuffer(data, dtype="<f8")
        else:
            raise ValueError("wav: unsupported float bit depth %d" % bits)
        # NaN/Inf are valid IEEE encodings but junk audio: letting
        # them through poisons the feature column (NaN mean) with
        # decode_ok=true — the integer paths can never emit a
        # non-finite feature, so neither may this one
        if samples.size and not np.isfinite(samples).all():
            raise ValueError("wav: non-finite float samples")
        return samples, data
    raise NotImplementedError(
        "WAV format tag %d requires codec tables the engine does not"
        " carry (e.g. ADPCM/GSM); integer PCM, IEEE float, and G.711"
        " A-law/µ-law decode natively." % tag
    )


def _featurize_wav(payload: bytes) -> tuple[int, list[float]]:
    """One RIFF parse for EVERY WAV flavor (no stdlib ``wave`` on the
    hot path — it refuses non-PCM entirely and, before Python 3.12,
    the extensible container too): checksum = crc32 of the canonical
    linear bytes, features = [duration_s, rate, channels, mean
    |amplitude|] (float WAV's mean is on its native [-1, 1] scale)."""
    import zlib

    import numpy as np

    tag, nch, rate, bits, data = _parse_wav_raw(payload)
    # decode BEFORE the frame-alignment check: a table-bound tag must
    # reason-code as decoder_gap (NotImplementedError) even when its
    # data length happens not to divide by a frame size that is only
    # meaningful for the linear formats anyway
    samples, canon = _wav_linear(tag, bits, data)
    frame_size = max(1, nch * max(1, bits // 8))
    if len(data) % frame_size:
        raise ValueError("wav: data chunk truncated mid-frame")
    checksum = zlib.crc32(canon) % 1_000_003
    if samples.size:
        if samples.dtype.kind == "f":
            mean_abs = float(np.abs(samples).mean())
        else:
            mean_abs = float(np.abs(samples.astype(np.int64)).mean())
    else:
        mean_abs = 0.0
    duration = (len(data) // frame_size) / rate
    return checksum, [duration, float(rate), float(nch), mean_abs]


def _stdlib_featurize(media_type: str, payload: bytes) -> tuple[int, list[float]]:
    """Real decoders built from the stdlib and numpy, dispatched on the
    top-level media type and then on the payload magic (a mislabeled
    subtype still decodes):

    - ``audio/*``: WAV through one native RIFF parse (``_featurize_wav``:
      integer PCM at every width, IEEE float, G.711 A-law/µ-law via the
      formula-generated companding tables); feature = [duration_s,
      framerate, n_channels, mean |amplitude|], checksum = crc32 of the
      canonical little-endian PCM.
    - ``image/*``: BMP, binary PNM, PNG and GIF decode to a normalized
      raster; feature = [width, height, depth, mean pixel], checksum =
      crc32 of the raster, so one image stored in any of them
      fingerprints identically.
    - anything else but ``video/*``: opaque binary — crc32 checksum and
      compressibility features (zlib ratio), the standard corpus-QA
      signal.

    Every other audio or image container and all video raise
    ``NotImplementedError`` (the ``decoder_gap`` reason)."""
    import zlib

    kind = media_type.partition("/")[0]
    if kind == "audio":
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return _featurize_wav(payload)
        raise NotImplementedError(
            "audio decoding beyond WAV requires a codec library; WAV "
            "(integer/float PCM, G.711) decodes natively"
        )
    if kind == "image":
        if payload[:2] == b"BM":
            return _featurize_bmp(payload)
        if payload[:2] in (b"P5", b"P6"):
            return _featurize_pnm(payload)
        if payload[:8] == _PNG_SIG:
            return _featurize_png(payload)
        if payload[:4] == b"GIF8":
            return _featurize_gif(payload)
        raise NotImplementedError(
            "codec-bound image decoding requires a codec library; BMP, "
            "binary PNM, PNG and GIF decode natively"
        )
    if kind == "video":
        raise NotImplementedError(
            "video decoding requires a codec library such as ffmpeg"
        )
    checksum = zlib.crc32(payload) % 1_000_003
    n = len(payload)
    ratio = len(zlib.compress(payload)) / n if n else 0.0
    first = float(payload[0]) if n else 0.0
    last = float(payload[-1]) if n else 0.0
    return checksum, [float(n), ratio, first, last]


def decode_features(
    assets: DataFrame, real_decoder: bool = False, strict: bool = False
) -> DataFrame:
    """Decode/feature-extract each asset via Arrow-batched ``mapInPandas``.

    The default is the deterministic byte-sum stand-in
    ``_fake_featurize``: its output is reproducible in SQL, which is what
    the ``q_multimodal_features`` oracle checks. ``real_decoder=True``
    routes to the stdlib decoders in ``_stdlib_featurize`` (lossless
    images and WAV audio; crc32/zlib features for opaque binary; video
    and every other audio or image format dead-letter as
    ``decoder_gap``).

    Decode failures are **dead-lettered, not raised**: a corrupt or
    unsupported asset yields its row with ``decode_ok=false``, null
    checksum/feature, the message in ``error`` and a ``reason`` code
    (``_dead_letter_reason``). ``strict=True`` raises instead."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            checksums, features, oks, errors, reasons = [], [], [], [], []
            for media_type, payload in zip(
                batch["media_type"], batch["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    if real_decoder:
                        checksum, feature = _stdlib_featurize(
                            media_type, payload
                        )
                    else:
                        checksum, feature = _fake_featurize(payload)
                except Exception as e:  # noqa: BLE001 — dead-letter path
                    if strict:
                        raise
                    checksum, feature = None, None
                    oks.append(False)
                    errors.append(f"{type(e).__name__}: {e}")
                    reasons.append(_dead_letter_reason(e))
                else:
                    oks.append(True)
                    errors.append(None)
                    reasons.append(None)
                checksums.append(checksum)
                features.append(feature)
            yield pd.DataFrame(
                {
                    "asset_id": batch["asset_id"],
                    "media_type": batch["media_type"],
                    "n_bytes": [
                        len(bytes(p)) if p is not None else 0
                        for p in batch["payload"]
                    ],
                    "checksum": pd.array(checksums, dtype="Int64"),
                    "feature": features,
                    "decode_ok": oks,
                    "error": errors,
                    "reason": reasons,
                }
            )

    return assets.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def _decode_image_pixels(payload: bytes):
    """Decode a BMP, binary PNM, PNG or GIF payload to an (h, w, c) uint8
    raster in RGB/grayscale order: BMP rows are flipped to top-down,
    BGR(A) reordered to RGB and 8-bit palettes expanded; PNG alpha is
    dropped; PNM is already raster-ordered; GIF yields its first frame.
    Any other payload raises ``NotImplementedError``: no lossy or
    codec-bound image decoder ships with the engine, and callers
    dead-letter the row."""
    import struct

    import numpy as np

    if payload[:2] == b"BM":
        if len(payload) < 54:
            raise ValueError("BMP header truncated")
        pix_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise ValueError(f"unsupported BMP header size {hdr_size}")
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if compression != 0 or bpp not in (8, 24, 32):
            raise ValueError(
                f"unsupported BMP variant (compression={compression}, "
                f"bpp={bpp})"
            )
        abs_h, bytes_pp = abs(height), bpp // 8
        row_stride = ((width * bytes_pp + 3) // 4) * 4
        if pix_off + row_stride * abs_h > len(payload):
            raise ValueError("BMP raster truncated")
        raster = np.frombuffer(
            payload, dtype=np.uint8, count=row_stride * abs_h, offset=pix_off
        )
        pixels = raster.reshape(abs_h, row_stride)[:, : width * bytes_pp]
        pixels = pixels.reshape(abs_h, width, bytes_pp)
        if height > 0:  # bottom-up storage -> top-down pixels
            pixels = pixels[::-1]
        if bpp == 8:
            # expand palette indices through the color table (BGRA
            # entries, 4 bytes each; biClrUsed == 0 means a full 256) —
            # mirroring _png_decode's PLTE expansion, so the same image
            # stored as paletted BMP vs paletted PNG normalizes (and
            # therefore fingerprints) identically
            n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
            pal_off = 14 + hdr_size
            if pal_off + n_colors * 4 > len(payload):
                raise ValueError("BMP color table truncated")
            table = np.frombuffer(
                payload, dtype=np.uint8, count=n_colors * 4, offset=pal_off
            ).reshape(-1, 4)[:, 2::-1]  # BGRA -> RGB
            idx = pixels[:, :, 0]
            if int(idx.max(initial=0)) >= n_colors:
                raise ValueError("BMP palette index out of range")
            pixels = table[idx]
        elif bytes_pp >= 3:  # BGR(A) -> RGB, alpha dropped
            pixels = pixels[:, :, 2::-1]
        return np.ascontiguousarray(pixels)
    if payload[:2] in (b"P5", b"P6"):
        width, height, channels, offset = _pnm_header(payload)
        count = width * height * channels
        if offset + count > len(payload):
            raise ValueError("PNM raster truncated")
        raster = np.frombuffer(
            payload, dtype=np.uint8, count=count, offset=offset
        )
        return raster.reshape(height, width, channels)
    if payload[:8] == _PNG_SIG:
        pixels, channels = _png_decode(payload)
        if channels in (2, 4):  # GA/RGBA -> drop alpha
            pixels = pixels[:, :, : channels - 1]
        return np.ascontiguousarray(pixels)
    if payload[:4] == b"GIF8":
        return _gif_decode_pixels(payload)
    raise NotImplementedError(
        "codec-bound image decoding requires a codec library; BMP, "
        "binary PNM, PNG and GIF decode natively"
    )


def sample_frames(
    assets: DataFrame, frame_bytes: int = 32, every_n: int = 2
) -> DataFrame:
    """Frame-sample each asset (1→N explode: one output row per kept
    frame). Payloads are cut into ``frame_bytes``-sized chunks and every
    ``every_n``-th chunk is emitted with its original index, so
    downstream timing math stays honest. ``mapInPandas`` may yield more
    rows than it consumes, frames inherit the asset id for downstream
    joins, and no shuffle happens until something groups on asset_id.

    Both sizes must be at least 1; anything else raises ``ValueError``
    here, before a plan is built."""
    if frame_bytes < 1 or every_n < 1:
        raise ValueError(
            "sample_frames needs frame_bytes >= 1 and every_n >= 1, got "
            f"frame_bytes={frame_bytes}, every_n={every_n}"
        )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, idxs, frames = [], [], []
            for asset_id, payload in zip(batch["asset_id"], batch["payload"]):
                b = bytes(payload) if payload is not None else b""
                for o in range(0, len(b), frame_bytes * every_n):
                    ids.append(asset_id)
                    idxs.append(o // frame_bytes)
                    frames.append(b[o : o + frame_bytes])
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "frame_idx": idxs,
                    "frame": frames,
                    "n_bytes": [len(f) for f in frames],
                }
            )

    return assets.mapInPandas(sample, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image near-dup: dHash (difference hash) over the stdlib
# decoders, bridging the multimodal family to the dedup machinery — exact
# byte-level dedup misses re-encoded/resized copies of the same picture;
# a 64-bit gradient-sign fingerprint catches them (the standard cheap
# perceptual hash; pHash/DCT is the heavier sibling, same plumbing).
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _dhash64(pixels) -> int:
    """64-bit difference hash of an (h, w, c) raster: luma →
    nearest-neighbor 9×8 downsample → horizontal gradient signs.
    Resolution/re-encode invariant by construction (any decode path yielding the same pixels — or a
    resampled version of them — yields the same gradient signs)."""
    import numpy as np

    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    small = gray[np.ix_(ys, xs)]
    bits = (small[:, 1:] > small[:, :-1]).ravel()
    h = int(sum(1 << i for i, b in enumerate(bits.tolist()) if b))
    # two's-complement into signed int64 (LongType can't hold bit-63 set
    # as unsigned; XOR/popcount downstream are representation-agnostic)
    return h - (1 << 64) if h >= (1 << 63) else h


def image_dhash(assets: DataFrame, strict: bool = False) -> DataFrame:
    """Perceptual hash per image asset via Arrow-batched ``mapInPandas``
    (same batch shape as ``decode_features``):
    ``(asset_id, media_type, dhash, decode_ok, error)``. Payloads that are
    not BMP, binary PNM, PNG or GIF, and malformed ones, dead-letter with
    ``decode_ok=false`` and the message in ``error``; ``strict=True``
    raises instead."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            hashes, oks, errors = [], [], []
            for payload in batch["payload"]:
                payload = bytes(payload) if payload is not None else b""
                try:
                    hashes.append(_dhash64(_decode_image_pixels(payload)))
                    oks.append(True)
                    errors.append(None)
                except Exception as e:  # noqa: BLE001 — dead-letter path
                    if strict:
                        raise
                    hashes.append(None)
                    oks.append(False)
                    errors.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "asset_id": batch["asset_id"],
                    "media_type": batch["media_type"],
                    "dhash": pd.array(hashes, dtype="Int64"),
                    "decode_ok": oks,
                    "error": errors,
                }
            )

    return assets.mapInPandas(hash_batch, schema=DHASH_SCHEMA)


def image_near_dup_pairs(
    assets: DataFrame,
    max_hamming: int = 6,
    bucket_bits: int = 12,
    max_bucket_size: int | None = None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate image pairs: dHash the decodable assets once
    (materialized — the decode is the dominant cost), bucket on the top
    ``bucket_bits`` hash bits so the self-join is bucket-local (the same
    trade as SimHash banding: a near-dup pair differing in a bucket bit
    is missed; more buckets = cheaper and lower recall), verify with
    popcount(XOR) ≤ ``max_hamming``. ``max_bucket_size`` engages the
    dedup hot-bucket guard (star-link to the min-id representative) for
    corpora with massively-reposted images; default None — image dHash
    buckets are far sparser than text templates. ``hashes``: a caller
    that also needs the dHash table (q_image_dedup returns it beside
    the pairs) passes ``image_dhash``
    output over exactly these assets and the decode pass — the
    dominant cost — runs once, not twice."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        _split_hot_buckets,
    )

    sigs = materialize(
        (hashes if hashes is not None else image_dhash(assets))
        .filter(F.col("decode_ok"))
        .select(
            F.col("asset_id").alias("id"),
            F.col("dhash").alias("sh"),
        )
        .withColumn("bucket", F.shiftrightunsigned("sh", 64 - bucket_bits)),
        eager=False,
    )
    if max_bucket_size is not None:
        cold, hot = _split_hot_buckets(
            sigs, ["bucket"], max_bucket_size
        )
    else:
        cold, hot = sigs, None
    a, b = cold.alias("a"), cold.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
    )
    if hot is not None:
        reps = hot.groupBy("bucket").agg(
            F.min("id").alias("rep_id"),
            F.min_by("sh", "id").alias("rep_sh"),
        )
        star_hamming = F.bit_count(F.col("rep_sh").bitwiseXOR(F.col("sh")))
        star = (
            hot.join(reps, ["bucket"])
            .filter(F.col("id") != F.col("rep_id"))
            .filter(star_hamming <= max_hamming)
            .select(
                F.col("rep_id").alias("id_a"),
                F.col("id").alias("id_b"),
                star_hamming.alias("hamming"),
            )
        )
        pairs = pairs.unionByName(star)
    return pairs


def image_near_dup_keep(
    assets: DataFrame,
    max_hamming: int = 6,
    bucket_bits: int = 12,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The asset-level twin of the text dedup keep decision: dHash →
    Hamming-bucketed pairs (``image_near_dup_pairs``) → connected
    components → min-id survivor per cluster. Returns the SURVIVING
    asset rows (input schema unchanged) — every asset whose component
    representative is a smaller id drops, exactly the near-dup survivor
    policy ``curate_corpus`` applies to text. Undecodable assets
    (dead-lettered by ``image_dhash``) cannot pair, so they always
    survive this gate — filter on ``image_dhash``'s ``decode_ok`` column
    if they should be dropped instead."""
    from inbev_data_engineering_case_spark.operators.dedup import (
        dedup_components,
    )

    pairs = image_near_dup_pairs(
        assets,
        max_hamming=max_hamming,
        bucket_bits=bucket_bits,
        max_bucket_size=max_bucket_size,
    )
    comps = dedup_components(pairs.select("id_a", "id_b"))
    drop = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("asset_id")
    )
    return assets.join(drop, on="asset_id", how="left_anti")


def pnm_assets_from_documents(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic 9×8 grayscale P5-PNM asset fixture over the
    documents table (the ``assets_from_documents`` pattern for the
    REAL image decode path): each document with ≥72 chars becomes a
    9-wide × 8-high 8-bit PGM whose raster is the text's first 72
    bytes. The 9×8 geometry makes ``_dhash64``'s 9×8 downsample the
    identity, so the perceptual hash is a pure function of those bytes
    — computable by an oracle from the text column (q_image_dedup) —
    while still exercising the full payload→header-parse→decode→hash
    path a real scraped-image corpus runs."""
    return documents.filter(F.length(text_col) >= 72).select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.lit("image/x-portable-graymap").alias("media_type"),
        F.concat(
            F.lit(b"P5\n9 8\n255\n"),
            F.encode(F.substring(text_col, 1, 72), "utf-8"),
        ).alias("payload"),
    )
