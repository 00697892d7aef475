"""Multimodal columns: media payloads as opaque ``binary`` columns with a
typed metadata struct, processed through Arrow-batched ``mapInPandas``.

- ``assets_from_documents`` lands the documents' text as ``text/plain``
  payloads; ``decode_features`` featurizes them with a deterministic
  byte-sum stand-in (checksum plus ``[n_bytes, mean, first, last]``)
  that the ``q_multimodal_features`` oracle reproduces in SQL.
- ``sample_frames`` is the 1→N explode: each payload is cut into
  fixed-size byte chunks and every n-th chunk is kept
  (``q_frame_sample``).
- ``image_dhash`` decodes binary PNM (P5/P6) payloads and computes a
  64-bit perceptual difference hash over the raster;
  ``image_near_dup_pairs`` buckets those hashes into Hamming near-dup
  pairs (``q_image_dedup``). ``pnm_assets_from_documents`` builds the
  deterministic PNM fixture that query runs on. Any other payload, and
  a malformed PNM, is dead-lettered: the row keeps ``decode_ok=false``
  and the message in ``error``, so one undecodable asset flags its row
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

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
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


def _pnm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary PNM (P5/P6) header → (width, height, channels,
    raster_offset). Whitespace/comment-tolerant; raises ValueError on any
    malformation and ``NotImplementedError`` on a payload that is not
    binary PNM."""
    channels = {b"P6": 3, b"P5": 1}.get(payload[:2])
    if channels is None:
        raise NotImplementedError(
            "image decoding beyond binary PNM (P5/P6) requires a codec "
            "library"
        )
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


def decode_features(assets: DataFrame) -> DataFrame:
    """Feature-extract each asset via Arrow-batched ``mapInPandas`` with
    the deterministic byte-sum stand-in ``_fake_featurize``: its output
    is reproducible in SQL, which is what the ``q_multimodal_features``
    oracle checks."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = [
                bytes(p) if p is not None else b"" for p in batch["payload"]
            ]
            checksums, features = [], []
            for payload in payloads:
                checksum, feature = _fake_featurize(payload)
                checksums.append(checksum)
                features.append(feature)
            yield pd.DataFrame(
                {
                    "asset_id": batch["asset_id"],
                    "media_type": batch["media_type"],
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": pd.array(checksums, dtype="Int64"),
                    "feature": features,
                }
            )

    return assets.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def _decode_image_pixels(payload: bytes):
    """Decode a binary PNM (P5/P6) payload to its (h, w, c) uint8 raster.
    Any other payload raises ``NotImplementedError``: no other image
    decoder ships with the engine, and callers dead-letter the row."""
    import numpy as np

    width, height, channels, offset = _pnm_header(payload)
    count = width * height * channels
    if offset + count > len(payload):
        raise ValueError("PNM raster truncated")
    raster = np.frombuffer(payload, dtype=np.uint8, count=count, offset=offset)
    return raster.reshape(height, width, channels)


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
# Perceptual image near-dup: dHash (difference hash) over the decoded
# raster, bridging the multimodal family to the dedup machinery — exact
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
    Resolution/re-encode invariant by construction (any decode path
    yielding the same pixels — or a resampled version of them — yields
    the same gradient signs)."""
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


def image_dhash(assets: DataFrame) -> DataFrame:
    """Perceptual hash per image asset via Arrow-batched ``mapInPandas``
    (same batch shape as ``decode_features``):
    ``(asset_id, media_type, dhash, decode_ok, error)``. Payloads that are
    not binary PNM, and malformed ones, dead-letter with
    ``decode_ok=false`` and the message in ``error``."""

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
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate image pairs: dHash the decodable assets once
    (materialized — the decode is the dominant cost), bucket on the top
    ``bucket_bits`` hash bits so the self-join is bucket-local (the same
    trade as SimHash banding: a near-dup pair differing in a bucket bit
    is missed; more buckets = cheaper and lower recall), verify with
    popcount(XOR) ≤ ``max_hamming``. ``hashes``: a caller that also
    needs the dHash table (q_image_dedup returns it beside the pairs)
    passes ``image_dhash`` output over exactly these assets and the
    decode pass — the dominant cost — runs once, not twice."""
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
    a, b = sigs.alias("a"), sigs.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
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
