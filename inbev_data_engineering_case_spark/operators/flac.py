"""FLAC audio codec — pure stdlib + numpy, no external codec library.

Decoder: the full RFC 9639 (the FLAC format's IETF specification)
subset every real encoder emits — STREAMINFO + metadata skip, fixed
and variable blocking, all block-size/sample-rate/sample-size header
codes, UTF-8-style coded numbers, CONSTANT / VERBATIM / FIXED(0-4) /
LPC(1-32) subframes, Rice and Rice2 residual partitions including
escape-to-raw, wasted bits, all four channel assignments (independent,
left/side, right/side, mid/side), CRC-8 header and CRC-16 frame
verification, and the STREAMINFO MD5 check over the decoded PCM — so
FLAC crawl audio decodes on a bare cluster the way WAV already does
(``multimodal._stdlib_featurize``). FLAC has NO normative tables:
Rice coding, the fixed predictors, and both CRCs are short formulas,
so a from-spec implementation is honest.

Encoder: a fixture/round-trip tool — real STREAMINFO, per-frame subframe
choice (constant auto-detect, verbatim, fixed 0-4, caller-quantized
LPC), exact-cost Rice parameter selection with the escape form,
partitioned residuals, wasted-bits signalling, and the three stereo
decorrelations — enough to produce genuine FLAC bitstreams for tests
without ffmpeg/libFLAC, not a production encoder.

Format facts (sync code, header code tables, subframe type space,
zigzag Rice mapping, decorrelation arithmetic, CRC polynomials 0x07 /
0x8005, the interleaved little-endian MD5 rule) follow RFC 9639; the
small block-size/sample-rate tables are the spec's arithmetic rules
(576*2**(n-2), 256*2**(n-8)) written as code where possible.

Reference parity: the reference repo has no audio path at all
(SURVEY.md §2.6 — multimodal is an extension category); this module
extends the ``documents``-table asset plumbing to compressed audio.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# CRCs — both generated from their polynomial, never transcribed
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for byte in range(256):
        reg = byte << (width - 8)
        for _ in range(8):
            reg = ((reg << 1) ^ poly) if reg & top else (reg << 1)
        table.append(reg & mask)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    reg = 0
    for b in data:
        reg = _CRC8_TABLE[reg ^ b]
    return reg


def _crc16(data: bytes) -> int:
    reg = 0
    for b in data:
        reg = ((reg << 8) & 0xFFFF) ^ _CRC16_TABLE[(reg >> 8) ^ b]
    return reg


# ---------------------------------------------------------------------------
# bit I/O — FLAC is MSB-first within bytes
# ---------------------------------------------------------------------------


class _Bits:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bitpos = pos * 8

    def read(self, n: int) -> int:
        end = self.bitpos + n
        if end > len(self.data) * 8:
            raise ValueError("flac: bitstream truncated")
        out = 0
        pos = self.bitpos
        while n:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(n, avail)
            out = (out << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            pos += take
            n -= take
        self.bitpos = pos
        return out

    def signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        count = 0
        data, pos = self.data, self.bitpos
        nbits = len(data) * 8
        while True:
            if pos >= nbits:
                raise ValueError("flac: bitstream truncated in unary")
            byte = data[pos >> 3]
            rem = 8 - (pos & 7)
            window = byte & ((1 << rem) - 1)
            if window == 0:
                count += rem
                pos += rem
                continue
            lead = rem - window.bit_length()
            count += lead
            pos += lead + 1
            self.bitpos = pos
            return count

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    def bytepos(self) -> int:
        if self.bitpos & 7:
            raise ValueError("flac: misaligned byte read")
        return self.bitpos >> 3


# ---------------------------------------------------------------------------
# header code tables — the spec's arithmetic rules, generated
# ---------------------------------------------------------------------------

# block size codes 2-5 are 576*2**(n-2), 8-15 are 256*2**(n-8); 1 is 192
_BLOCK_SIZE = {1: 192}
_BLOCK_SIZE.update({n: 576 << (n - 2) for n in range(2, 6)})
_BLOCK_SIZE.update({n: 256 << (n - 8) for n in range(8, 16)})

_SAMPLE_RATE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_SAMPLE_SIZE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# fixed predictor weights by order: binomial-coefficient rows with
# alternating signs (order-o predictor = o-th difference), generated
_FIXED_COEF = {0: []}
for _o in range(1, 5):
    row = [1]
    for _ in range(_o):
        row = [a + b for a, b in zip([0] + row, row + [0])]
    # row = binomials of (1+x)^o; predictor coef for a[-j] alternates sign
    _FIXED_COEF[_o] = [
        (-1) ** (j + 1) * row[j] for j in range(1, _o + 1)
    ]


def _read_coded_number(bits: _Bits, max_bytes: int) -> int:
    """The frame header's UTF-8-style coded number (frame or sample
    index), extended past real UTF-8 to 7 bytes / 36 bits."""
    first = bits.read(8)
    if first < 0x80:
        return first
    n_cont = 0
    mask = 0x40
    while first & mask:
        n_cont += 1
        mask >>= 1
    if n_cont < 1 or n_cont > max_bytes - 1:
        raise ValueError("flac: invalid coded number lead byte")
    value = first & (mask - 1)
    for _ in range(n_cont):
        cont = bits.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("flac: invalid coded number continuation")
        value = (value << 6) | (cont & 0x3F)
    return value


def _read_residual(bits: _Bits, block_size: int, order: int) -> list[int]:
    """One subframe's residual: 2-bit method (Rice / Rice2), 4-bit
    partition order, per-partition parameter or escape-to-raw."""
    method = bits.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    porder = bits.read(4)
    n_parts = 1 << porder
    if block_size % n_parts:
        raise ValueError("flac: partition order does not divide block")
    out: list[int] = []
    for part in range(n_parts):
        n = (block_size >> porder) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("flac: predictor order exceeds first partition")
        param = bits.read(param_bits)
        if param == escape:
            raw = bits.read(5)
            if raw:
                out.extend(bits.signed(raw) for _ in range(n))
            else:
                out.extend([0] * n)
        else:
            for _ in range(n):
                q = bits.unary()
                u = (q << param) | bits.read(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _read_subframe(bits: _Bits, block_size: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("flac: subframe header padding bit set")
    stype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("flac: wasted bits exceed sample size")
    # every reconstructed sample of a conformant stream fits the
    # subframe's bit depth — enforcing that per sample bounds the
    # MAGNITUDE dimension of decode cost: without it, a crafted
    # CRC-valid LPC subframe (large coefficient, zero residuals) grows
    # samples exponentially and a KB-scale payload costs GBs of
    # big-int memory before any later check runs — an executor OOM,
    # not a catchable dead-letter. (The COUNT dimension — FLAC
    # legitimately encodes 65536 silent samples in ~15 bytes — is
    # bounded separately by ``flac_decode``'s max_samples cap.)
    lo, hi = -(1 << (eff - 1)), (1 << (eff - 1)) - 1
    if stype == 0:  # CONSTANT
        v = bits.signed(eff)
        samples = [v] * block_size
    elif stype == 1:  # VERBATIM
        samples = [bits.signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED, order 0-4
        order = stype & 7
        if order > block_size:
            raise ValueError("flac: fixed order exceeds block size")
        samples = [bits.signed(eff) for _ in range(order)]
        resid = _read_residual(bits, block_size, order)
        coef = _FIXED_COEF[order]
        for r in resid:
            pred = sum(
                c * samples[-1 - j] for j, c in enumerate(coef)
            )
            s = r + pred
            if s < lo or s > hi:
                raise ValueError(
                    "flac: predicted sample exceeds the bit depth"
                )
            samples.append(s)
    elif stype >= 32:  # LPC, order 1-32
        order = (stype & 31) + 1
        if order > block_size:
            raise ValueError("flac: lpc order exceeds block size")
        samples = [bits.signed(eff) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid lpc precision code")
        shift = bits.read(5)
        if shift & 0x10:
            raise ValueError("flac: negative lpc shift")
        coef = [bits.signed(prec) for _ in range(order)]
        resid = _read_residual(bits, block_size, order)
        for r in resid:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coef))
            s = r + (acc >> shift)
            if s < lo or s > hi:
                raise ValueError(
                    "flac: predicted sample exceeds the bit depth"
                )
            samples.append(s)
    else:
        raise ValueError("flac: reserved subframe type %d" % stype)
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_MAX_SAMPLES = 1 << 24  # ~6.3 min of 44.1 kHz audio per channel


def flac_decode(payload: bytes, max_samples: int = _MAX_SAMPLES):
    """Decode a FLAC stream → ``(sample_rate, n_channels, bps,
    samples)`` with ``samples`` an int32/int64 ndarray of shape
    ``(n_samples, n_channels)``. Malformed input raises ``ValueError``
    (→ the ``corrupt`` dead-letter reason); there is no capability
    gate — every RFC 9639 stream decodes.

    ``max_samples`` is the decompression-bomb guard (the PIL
    discipline): FLAC legitimately stores 65536 silent samples in
    ~15 bytes, so sample COUNT — unlike sample magnitude, which the
    per-sample range check bounds — is not tied to payload size, and
    a MB of crafted CONSTANT frames would otherwise materialize tens
    of GB. Decoding raises ValueError as soon as the running count
    would exceed the cap; raise it explicitly for known-long audio."""
    return _flac_decode_full(payload, want_pcm=False,
                             max_samples=max_samples)[:4]


def _flac_decode_full(
    payload: bytes, want_pcm: bool, max_samples: int = _MAX_SAMPLES
):
    """``flac_decode`` plus the interleaved little-endian PCM bytes —
    serialized at most ONCE (the MD5 check needs them anyway when the
    STREAMINFO digest is populated; ``featurize_flac`` reuses that
    buffer for the crc32 fingerprint instead of a second full pass)."""
    if payload[:4] != b"fLaC":
        raise ValueError("flac: missing fLaC marker")
    pos = 4
    streaminfo = None
    last = False
    first = True
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata header")
        head = payload[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        length = int.from_bytes(payload[pos + 1:pos + 4], "big")
        pos += 4
        if pos + length > len(payload):
            raise ValueError("flac: truncated metadata block")
        if first:
            if btype != 0 or length != 34:
                raise ValueError("flac: first block must be STREAMINFO")
            streaminfo = payload[pos:pos + 34]
            first = False
        elif btype == 0:
            raise ValueError("flac: duplicate STREAMINFO")
        pos += length
    si = _Bits(streaminfo)
    si.read(16)  # min block size
    si.read(16)  # max block size
    si.read(24), si.read(24)  # min/max frame size (0 = unknown)
    rate = si.read(20)
    nch = si.read(3) + 1
    bps = si.read(5) + 1
    total = si.read(36)
    md5 = streaminfo[18:34]
    if rate == 0:
        raise ValueError("flac: zero sample rate")
    if total > max_samples:
        raise ValueError(
            "flac: STREAMINFO promises %d samples, past the %d-sample"
            " decompression guard (pass max_samples= to raise it)"
            % (total, max_samples)
        )

    channels: list[list[int]] = [[] for _ in range(nch)]
    n_decoded = 0
    while pos < len(payload):
        frame_start = pos
        bits = _Bits(payload, pos)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("flac: lost frame sync")
        if bits.read(1):
            raise ValueError("flac: frame header reserved bit set")
        variable = bits.read(1)
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        ss_code = bits.read(3)
        if bits.read(1):
            raise ValueError("flac: frame header reserved bit set")
        _read_coded_number(bits, 7 if variable else 6)
        if bs_code == 0:
            raise ValueError("flac: reserved block size code")
        elif bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        else:
            block_size = _BLOCK_SIZE[bs_code]
        if sr_code == 15:
            raise ValueError("flac: invalid sample rate code")
        elif sr_code == 12:
            frame_rate = bits.read(8) * 1000
        elif sr_code == 13:
            frame_rate = bits.read(16)
        elif sr_code == 14:
            frame_rate = bits.read(16) * 10
        elif sr_code == 0:
            frame_rate = rate
        else:
            frame_rate = _SAMPLE_RATE[sr_code]
        if frame_rate != rate:
            raise ValueError("flac: frame sample rate contradicts STREAMINFO")
        if ss_code == 0:
            frame_bps = bps
        elif ss_code in _SAMPLE_SIZE:
            frame_bps = _SAMPLE_SIZE[ss_code]
        else:
            raise ValueError("flac: reserved sample size code")
        if frame_bps != bps:
            raise ValueError("flac: frame sample size contradicts STREAMINFO")
        if ch_code <= 7:
            frame_nch, side = ch_code + 1, None
        elif ch_code in (8, 9, 10):
            frame_nch, side = 2, ch_code
        else:
            raise ValueError("flac: reserved channel assignment")
        if frame_nch != nch:
            raise ValueError("flac: frame channels contradict STREAMINFO")
        if n_decoded + block_size > max_samples:
            raise ValueError(
                "flac: decode passes the %d-sample decompression guard"
                " (pass max_samples= to raise it)" % max_samples
            )
        header_end = bits.bytepos()
        if _crc8(payload[frame_start:header_end]) != bits.read(8):
            raise ValueError("flac: frame header CRC-8 mismatch")

        subs = []
        for ch in range(frame_nch):
            ch_bps = bps
            if side == 8 and ch == 1:
                ch_bps += 1
            elif side == 9 and ch == 0:
                ch_bps += 1
            elif side == 10 and ch == 1:
                ch_bps += 1
            subs.append(_read_subframe(bits, block_size, ch_bps))
        bits.align()
        body_end = bits.bytepos()
        if _crc16(payload[frame_start:body_end]) != bits.read(16):
            raise ValueError("flac: frame CRC-16 mismatch")
        pos = bits.bytepos()

        if side == 8:  # left/side: right = left - side
            left, sd = subs
            subs = [left, [l - s for l, s in zip(left, sd)]]
        elif side == 9:  # right/side: left = right + side
            sd, right = subs
            subs = [[r + s for r, s in zip(right, sd)], right]
        elif side == 10:  # mid/side
            mid, sd = subs
            left, right = [], []
            for m, s in zip(mid, sd):
                m2 = (m << 1) | (s & 1)
                left.append((m2 + s) >> 1)
                right.append((m2 - s) >> 1)
            subs = [left, right]
        for ch in range(nch):
            channels[ch].extend(subs[ch])
        n_decoded += block_size

    if total and n_decoded != total:
        raise ValueError(
            "flac: decoded %d samples, STREAMINFO promised %d"
            % (n_decoded, total)
        )
    dtype = np.int64 if bps > 24 else np.int32
    out = np.empty((n_decoded, nch), dtype=dtype)
    for ch in range(nch):
        out[:, ch] = channels[ch]
    pcm = None
    if md5 != b"\x00" * 16:
        pcm = _pcm_bytes(out, bps)
        if hashlib.md5(pcm).digest() != md5:
            raise ValueError("flac: decoded PCM fails the STREAMINFO MD5")
    if want_pcm and pcm is None:
        pcm = _pcm_bytes(out, bps)
    return rate, nch, bps, out, pcm


def _pcm_bytes(samples: np.ndarray, bps: int) -> bytes:
    """RFC 9639's MD5 input: channel-interleaved, little-endian,
    signed, ceil(bps/8) bytes per sample."""
    width = (bps + 7) // 8
    flat = samples.reshape(-1)
    if width == 2:
        return flat.astype("<i2").tobytes()
    if width == 4:
        return flat.astype("<i4").tobytes()
    if width == 1:
        return flat.astype("i1").tobytes()
    # 3-byte samples: pack via the 4-byte form, dropping each MSB byte
    b4 = flat.astype("<i4").tobytes()
    arr = np.frombuffer(b4, dtype=np.uint8).reshape(-1, 4)
    return arr[:, :3].tobytes()


def featurize_flac(payload: bytes):
    """The ``audio/wav`` featurize contract for FLAC: checksum = crc32
    of the interleaved little-endian PCM (a WAV and a FLAC encoding of
    the same PCM fingerprint identically), features = [duration_s,
    sample_rate, n_channels, mean |amplitude|]."""
    rate, nch, _bps, samples, pcm = _flac_decode_full(payload, want_pcm=True)
    checksum = zlib.crc32(pcm) % 1_000_003
    mean_abs = (
        float(np.abs(samples.astype(np.int64)).mean())
        if samples.size
        else 0.0
    )
    duration = samples.shape[0] / rate
    return checksum, [duration, float(rate), float(nch), mean_abs]


# ---------------------------------------------------------------------------
# encoder — fixture / round-trip tool
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nacc:
            self.write(0, 8 - self.nacc)

    def bytes(self) -> bytes:
        if self.nacc:
            raise ValueError("flac encoder: unflushed bits")
        return bytes(self.buf)


def _coded_number(value: int) -> bytes:
    if value < 0x80:
        return bytes([value])
    out = []
    n_cont = 1
    while value >> (6 * n_cont) >= (1 << (6 - n_cont)) and n_cont < 6:
        n_cont += 1
    lead_bits = 6 - n_cont  # payload bits in the lead byte (0 when 6 conts)
    lead = (0xFF << (lead_bits + 1)) & 0xFF
    out.append(lead | (value >> (6 * n_cont)))
    for i in range(n_cont - 1, -1, -1):
        out.append(0x80 | ((value >> (6 * i)) & 0x3F))
    return bytes(out)


def _rice_cost(resid: list[int], k: int) -> int:
    return sum((((v << 1) ^ (v >> 63)) >> k) + 1 + k for v in resid)


def _write_residual(
    w: _BitWriter,
    resid: list[int],
    order: int,
    block_size: int,
    partition_order: int,
    rice2: bool,
    force_escape: bool,
) -> None:
    # clamp per frame (the real-encoder behavior): the final block of a
    # stream is usually shorter than the nominal block size, so the
    # requested order may not divide it or may swallow the warmup
    while partition_order and (
        block_size % (1 << partition_order)
        or (block_size >> partition_order) < order
    ):
        partition_order -= 1
    param_bits = 5 if rice2 else 4
    escape = (1 << param_bits) - 1
    w.write(1 if rice2 else 0, 2)
    w.write(partition_order, 4)
    n_parts = 1 << partition_order
    start = 0
    for part in range(n_parts):
        n = (block_size >> partition_order) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("flac encoder: order exceeds first partition")
        chunk = resid[start:start + n]
        start += n
        raw = max(
            (v if v >= 0 else ~v).bit_length() + 1 for v in chunk
        ) if chunk else 0
        if raw > 31:
            # the escape form caps at 31 raw bits and Rice quotients of
            # 2**31-scale residuals would emit GB of unary. fixed/auto
            # subframes never reach this (their verbatim fallback
            # prechecks) — only caller-chosen LPC coefficients can
            raise ValueError(
                "flac encoder: residuals exceed 31 bits (choose"
                " different LPC coefficients or a verbatim subframe)"
            )
        best_k, best_cost = 0, _rice_cost(chunk, 0)
        for k in range(1, escape):
            cost = _rice_cost(chunk, k)
            if cost < best_cost:
                best_k, best_cost = k, cost
        if force_escape or (chunk and best_cost > 5 + n * raw):
            w.write(escape, param_bits)
            w.write(raw, 5)
            for v in chunk:
                w.write(v, raw)
        else:
            w.write(best_k, param_bits)
            for v in chunk:
                u = (v << 1) ^ (v >> 63)
                w.unary(u >> best_k)
                w.write(u, best_k)


def _write_subframe(
    w: _BitWriter,
    samples: list[int],
    bps: int,
    subframe: str,
    fixed_order: int,
    partition_order: int,
    wasted_bits: int,
    lpc,
    rice2: bool,
    force_escape: bool,
) -> None:
    block_size = len(samples)
    if wasted_bits:
        if any(s & ((1 << wasted_bits) - 1) for s in samples):
            raise ValueError(
                "flac encoder: wasted_bits set but low bits are not zero"
            )
        samples = [s >> wasted_bits for s in samples]
        bps -= wasted_bits
    if subframe == "auto" and len(set(samples)) == 1:
        subframe = "constant"
    resid = None
    if subframe in ("fixed", "auto"):
        order = min(fixed_order, block_size)
        coef = _FIXED_COEF[order]
        resid = [
            samples[i]
            - sum(c * samples[i - 1 - j] for j, c in enumerate(coef))
            for i in range(order, block_size)
        ]
        widest = max(
            ((v if v >= 0 else ~v).bit_length() + 1 for v in resid),
            default=0,
        )
        if widest > 31:
            # loud high-bit-depth content: differencing widens rather
            # than narrows, Rice/escape can't carry it — fall back to
            # verbatim (a real encoder's cheapest-subframe choice),
            # bounded and bit-exact
            subframe = "verbatim"
    w.write(0, 1)
    if subframe == "constant":
        if len(set(samples)) != 1:
            raise ValueError("flac encoder: constant subframe, varying data")
        w.write(0, 6)
        _wasted(w, wasted_bits)
        w.write(samples[0], bps)
        return
    if subframe == "verbatim":
        w.write(1, 6)
        _wasted(w, wasted_bits)
        for s in samples:
            w.write(s, bps)
        return
    if subframe in ("fixed", "auto"):
        w.write(8 | order, 6)
        _wasted(w, wasted_bits)
        for s in samples[:order]:
            w.write(s, bps)
        _write_residual(
            w, resid, order, block_size, partition_order, rice2,
            force_escape,
        )
        return
    if subframe == "lpc":
        coefs, shift, precision = lpc
        order = len(coefs)
        if not 1 <= order <= 32 or not 0 <= shift <= 15:
            raise ValueError("flac encoder: lpc order/shift out of range")
        if order > block_size:
            raise ValueError("flac encoder: lpc order exceeds block size")
        w.write(32 | (order - 1), 6)
        _wasted(w, wasted_bits)
        for s in samples[:order]:
            w.write(s, bps)
        w.write(precision - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            if not -(1 << (precision - 1)) <= c < (1 << (precision - 1)):
                raise ValueError("flac encoder: lpc coef exceeds precision")
            w.write(c, precision)
        resid = [
            samples[i]
            - (
                sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
                >> shift
            )
            for i in range(order, block_size)
        ]
        _write_residual(
            w, resid, order, block_size, partition_order, rice2,
            force_escape,
        )
        return
    raise ValueError("flac encoder: unknown subframe kind %r" % subframe)


def _wasted(w: _BitWriter, wasted_bits: int) -> None:
    if wasted_bits:
        w.write(1, 1)
        w.unary(wasted_bits - 1)
    else:
        w.write(0, 1)


def flac_encode(
    samples,
    sample_rate: int,
    bps: int = 16,
    block_size: int = 1024,
    stereo_mode: str = "independent",
    subframe: str = "auto",
    fixed_order: int = 2,
    partition_order: int = 0,
    wasted_bits: int = 0,
    lpc=None,
    rice2: bool = False,
    force_escape: bool = False,
) -> bytes:
    """Assemble a genuine FLAC stream from int PCM ``samples`` of shape
    ``(n, channels)`` (a 1-D array is one channel). Every knob exists
    to pin a decoder path: ``stereo_mode`` in {independent, left_side,
    right_side, mid_side}, ``subframe`` in {auto, constant, verbatim,
    fixed, lpc} (auto = constant where a block is flat, else fixed),
    ``lpc=(coefs, shift, precision)``, ``rice2`` selects the 5-bit
    parameter method, ``force_escape`` pins escape-to-raw partitions.
    Fixed blocking, block-size always coded explicitly (code 7),
    sample rate/size from STREAMINFO when not in the code tables."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, nch = arr.shape
    if not 4 <= bps <= 32:
        raise ValueError("flac encoder: bps out of range")
    if stereo_mode != "independent" and nch != 2:
        raise ValueError("flac encoder: stereo decorrelation needs 2 ch")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if arr.size and (arr.min() < lo or arr.max() > hi):
        raise ValueError("flac encoder: samples exceed bps range")

    header = _BitWriter()
    header.write(block_size, 16)
    header.write(block_size, 16)
    header.write(0, 24)
    header.write(0, 24)
    header.write(sample_rate, 20)
    header.write(nch - 1, 3)
    header.write(bps - 1, 5)
    header.write(n, 36)
    streaminfo = header.bytes() + hashlib.md5(
        _pcm_bytes(arr, bps)
    ).digest()
    out = bytearray(b"fLaC")
    out.append(0x80)  # last metadata block, type 0 = STREAMINFO
    out += len(streaminfo).to_bytes(3, "big")
    out += streaminfo

    ss_code = {v: k for k, v in _SAMPLE_SIZE.items()}.get(bps, 0)
    ch_code = {
        "independent": nch - 1,
        "left_side": 8,
        "right_side": 9,
        "mid_side": 10,
    }[stereo_mode]

    frame_no = 0
    for start in range(0, n, block_size):
        block = arr[start:start + block_size]
        bs = block.shape[0]
        fw = _BitWriter()
        fw.write(0x3FFE, 14)
        fw.write(0, 1)
        fw.write(0, 1)  # fixed blocking strategy
        fw.write(7, 4)  # block size: 16-bit value-1 follows the header
        fw.write(0, 4)  # sample rate: from STREAMINFO
        fw.write(ch_code, 4)
        fw.write(ss_code, 3)
        fw.write(0, 1)
        for b in _coded_number(frame_no):
            fw.write(b, 8)
        fw.write(bs - 1, 16)
        head_bytes = fw.bytes()
        fw.write(_crc8(head_bytes), 8)

        if stereo_mode == "independent":
            chans = [(list(block[:, c]), bps) for c in range(nch)]
        else:
            left = [int(v) for v in block[:, 0]]
            right = [int(v) for v in block[:, 1]]
            side = [l - r for l, r in zip(left, right)]
            if stereo_mode == "left_side":
                chans = [(left, bps), (side, bps + 1)]
            elif stereo_mode == "right_side":
                chans = [(side, bps + 1), (right, bps)]
            else:
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                chans = [(mid, bps), (side, bps + 1)]
        for ch_samples, ch_bps in chans:
            _write_subframe(
                fw, [int(v) for v in ch_samples], ch_bps, subframe,
                fixed_order, partition_order, wasted_bits, lpc, rice2,
                force_escape,
            )
        fw.align()
        body = fw.bytes()
        fw.write(_crc16(body), 16)
        out += fw.bytes()
        frame_no += 1
    return bytes(out)
