"""WAV and G.711 decoder tests. The file kept its name when the FLAC
codec was removed, so the ids of the tests that stayed are unchanged.
It covers RIFF/WAVE parsing (sloppy trailers, the extensible container,
float PCM), the corrupt-vs-decoder_gap taxonomy at the edges, the
formula-generated G.711 companding tables, and the mapInPandas
integration through ``decode_features(real_decoder=True)``."""

import io
import wave
import zlib

import numpy as np
import pytest


def _pcm(n=2000, seed=7, scale=300):
    rng = np.random.default_rng(seed)
    p = np.cumsum(rng.integers(-scale, scale, size=n)).astype(np.int64)
    return np.clip(p, -32768, 32767).astype(np.int32)


def test_wav_truncation_is_corrupt_not_wrong_duration(spark):
    from inbev_data_engineering_case_spark.operators.multimodal import (
        decode_features,
    )

    pcm = _pcm(2000)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.astype("<i2").tobytes())
    wav = buf.getvalue()
    truncated = wav[: len(wav) - 1500]  # header still promises 2000 frames
    assets = spark.createDataFrame(
        [(1, "audio/wav", truncated,
          {"n_bytes": len(truncated), "source": "t"})],
        "asset_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, source:string>",
    )
    row = decode_features(assets, real_decoder=True).collect()[0]
    assert not row["decode_ok"] and row["reason"] == "corrupt"


# ---------------------------------------------------------------------------
# G.711 A-law / µ-law WAV (companding is formula-defined — no tables)
# ---------------------------------------------------------------------------


def _raw_wav(fmt_tag, data, nch=1, rate=8000, bits=8):
    import struct

    block = max(1, nch * (bits // 8))
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, nch, rate, rate * block, block, bits
    )
    out = b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(out)) + out


def test_g711_tables_pin_standard_endpoints():
    from inbev_data_engineering_case_spark.operators.multimodal import (
        _g711_table,
    )

    ulaw, alaw = _g711_table("ulaw"), _g711_table("alaw")
    # the canonical G.711 identities every published codec agrees on
    assert ulaw[0xFF] == 0 and ulaw[0x7F] == 0      # ±zero codes
    assert ulaw[0x80] == 32124 and ulaw[0x00] == -32124  # max magnitude
    assert alaw[0xD5] == 8 and alaw[0x55] == -8     # smallest magnitudes
    assert alaw[0xAA] == 32256 and alaw[0x2A] == -32256
    # each law is a bijection onto symmetric magnitudes, monotone per
    # segment: positive µ-law codes 0x80..0xFF decode strictly
    # decreasing in magnitude
    pos = ulaw[0x80:0x100].astype(np.int64)
    assert (np.diff(pos) < 0).all() and (pos >= 0).all()
    neg = ulaw[0x00:0x80].astype(np.int64)
    assert (np.diff(neg) > 0).all() and (neg <= 0).all()
    # A-law: sign bit (post-0x55-inversion invariant) splits the code
    # space into exact magnitude mirrors
    assert (alaw[0x80:0x100].astype(np.int64)
            == -alaw[0x00:0x80].astype(np.int64)).all()


def test_g711_compander_round_trip_tolerance():
    """Encode via nearest-code search against OUR decode table, decode
    back: the error must stay within each segment's half-step — the
    defining property of the companding curve."""
    from inbev_data_engineering_case_spark.operators.multimodal import (
        _g711_table,
    )

    rng = np.random.default_rng(11)
    x = rng.integers(-32124, 32124, size=4000).astype(np.int64)
    for law in ("ulaw", "alaw"):
        table = _g711_table(law).astype(np.int64)
        order = np.argsort(table)
        sorted_vals = table[order]
        idx = np.clip(
            np.searchsorted(sorted_vals, x), 1, len(sorted_vals) - 1
        )
        pick = np.where(
            np.abs(sorted_vals[idx] - x) < np.abs(sorted_vals[idx - 1] - x),
            idx, idx - 1,
        )
        decoded = sorted_vals[pick]
        err = np.abs(decoded - x)
        # both laws' top segment steps by 8<<7 / 16<<6 = 1024 between
        # adjacent codes -> nearest-code error is at most the 512
        # half-step (hit exactly at boundary ties)
        assert err.max() <= 512, law


def test_g711_wav_decode_features(spark):
    from inbev_data_engineering_case_spark.operators.multimodal import (
        _g711_table,
        decode_features,
    )

    # a µ-law byte stream whose expansion we know exactly
    codes = bytes([0xFF, 0x80, 0x00, 0xD5, 0x40, 0xC0] * 400)
    ulaw_wav = _raw_wav(7, codes)
    alaw_wav = _raw_wav(6, codes)
    adpcm_wav = _raw_wav(2, b"\x00" * 256, bits=4)
    assets = spark.createDataFrame(
        [
            (1, "audio/wav", ulaw_wav,
             {"n_bytes": len(ulaw_wav), "source": "t"}),
            (2, "audio/basic", alaw_wav,  # mislabeled: magic wins
             {"n_bytes": len(alaw_wav), "source": "t"}),
            (3, "audio/wav", adpcm_wav,
             {"n_bytes": len(adpcm_wav), "source": "t"}),
        ],
        "asset_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, source:string>",
    )
    out = {
        r["asset_id"]: r
        for r in decode_features(assets, real_decoder=True).collect()
    }
    table = _g711_table("ulaw")
    want = table[np.frombuffer(codes, dtype=np.uint8)]
    assert out[1]["decode_ok"]
    assert out[1]["checksum"] == zlib.crc32(
        want.astype("<i2").tobytes()
    ) % 1_000_003
    assert out[1]["feature"][:3] == [2400 / 8000, 8000.0, 1.0]
    assert out[2]["decode_ok"]  # A-law under a wrong label still decodes
    # ADPCM needs spec-literal step tables: an honest decoder gap
    assert not out[3]["decode_ok"] and out[3]["reason"] == "decoder_gap"


def test_wav_flavors_sloppy_trailer_extensible_float(spark):
    """The review-batch regressions: a sloppy trailer chunk after the
    audio must not corrupt-file a decodable WAV (the walk stops once
    fmt+data are in hand, first data chunk wins — the stdlib
    convention); WAVE_FORMAT_EXTENSIBLE PCM decodes natively (stdlib
    wave rejects the container before Python 3.12); IEEE-float WAV
    decodes as the uncompressed formula-free format it is."""
    import struct

    from inbev_data_engineering_case_spark.operators.multimodal import (
        _featurize_wav,
        decode_features,
    )

    pcm = _pcm(800)
    # hand-assembled PCM16 with an overshooting LIST trailer
    base = _raw_wav(1, pcm.astype("<i2").tobytes(), bits=16)
    sloppy = base + b"LIST" + struct.pack("<I", 99999) + b"INFO"
    cs_clean, feats_clean = _featurize_wav(base)
    cs_sloppy, feats_sloppy = _featurize_wav(sloppy)
    assert (cs_clean, feats_clean) == (cs_sloppy, feats_sloppy)

    # two data chunks: FIRST wins (stdlib convention)
    two = base + b"data" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
    assert _featurize_wav(two) == (cs_clean, feats_clean)

    # extensible container wrapping PCM16
    block = 2
    # tag nch rate byterate block bits cbSize(22) validBits mask,
    # then the SubFormat GUID whose first two LE bytes are tag 1 (PCM)
    fmt = struct.pack(
        "<HHIIHHHHIH", 0xFFFE, 1, 8000, 8000 * block, block, 16, 22, 16,
        0x4, 1,
    ) + b"\x00" * 14
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack(
        "<I", len(pcm.astype("<i2").tobytes())
    ) + pcm.astype("<i2").tobytes()
    ext = b"RIFF" + struct.pack("<I", len(body)) + body
    assert _featurize_wav(ext) == (cs_clean, feats_clean)

    # float32 WAV: native [-1, 1] scale
    f32 = (pcm.astype(np.float32) / 32768.0).tobytes()
    fwav = _raw_wav(3, f32, bits=32)
    cs_f, feats_f = _featurize_wav(fwav)
    assert feats_f[:3] == [0.1, 8000.0, 1.0]
    assert 0.0 < feats_f[3] < 1.0  # native float scale

    # end-to-end: all flavors green through the mapInPandas boundary
    assets = spark.createDataFrame(
        [(i + 1, "audio/wav", p, {"n_bytes": len(p), "source": "t"})
         for i, p in enumerate([sloppy, ext, fwav])],
        "asset_id long, media_type string, payload binary, "
        "meta struct<n_bytes:long, source:string>",
    )
    rows = decode_features(assets, real_decoder=True).collect()
    assert all(r["decode_ok"] for r in rows)


def test_wav_taxonomy_and_width_validation(spark):
    """The corrupt-vs-decoder_gap taxonomy must hold at the edges, and
    sample widths the decoder does not support must fail loud."""
    import struct

    from inbev_data_engineering_case_spark.operators.multimodal import (
        _featurize_wav,
    )

    # odd-length stereo ADPCM: capability gap, NOT corrupt (the frame
    # check must not fire before the tag dispatch)
    adpcm_odd = _raw_wav(2, b"\x00" * 257, nch=2, bits=4)
    with pytest.raises(NotImplementedError):
        _featurize_wav(adpcm_odd)

    # extensible fmt missing its SubFormat GUID: truncation = corrupt,
    # not 'tag 65534 requires codec tables'
    fmt16 = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt16
    body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    with pytest.raises(ValueError, match="extensible"):
        _featurize_wav(b"RIFF" + struct.pack("<I", len(body)) + body)

    # NaN float samples: corrupt, never a NaN feature with decode_ok
    nanwav = _raw_wav(3, struct.pack("<4f", 0.5, float("nan"), 0.1, 0.2),
                      bits=32)
    with pytest.raises(ValueError, match="non-finite"):
        _featurize_wav(nanwav)

    # unsupported widths: 16-bit float and 12-bit PCM are corrupt
    f16 = _raw_wav(3, b"\x00" * 8, bits=16)
    with pytest.raises(ValueError, match="float bit depth"):
        _featurize_wav(f16)
    p12 = _raw_wav(1, b"\x00" * 12, bits=12)
    with pytest.raises(ValueError, match="PCM bit depth"):
        _featurize_wav(p12)


def test_leakage_safe_split_rejects_existing_split_column(spark):
    # twin symmetry: the batch operator must reject a pre-existing
    # 'split' column exactly like its incremental twin, instead of
    # silently clobbering the caller's assignment
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        leakage_safe_split,
    )

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("train").alias("split")
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="split"):
        leakage_safe_split(docs, pairs)
