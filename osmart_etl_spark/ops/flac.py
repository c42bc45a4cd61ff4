"""REAL FLAC decoder — pure stdlib+numpy, written from the public
RFC 9639 spec (no libFLAC in this container; ``ldconfig`` shows no
flac/sndfile, so third-party-encoded fixtures cannot be produced here —
ground truth is instead (a) the spec's own integrity layers, all
verified per frame: CRC-8 on every frame header, CRC-16 on every frame,
and the STREAMINFO MD5 of the decoded stream, and (b) lossless
cross-container equality: the third-party CPython ``pluck-pcm16.wav``
samples encoded by the sibling encoder below and decoded back must be
bit-exact vs the independent WAV codec (tests/test_flac.py).

Extends the audio tier of ops/multimodal.py / ops/audio.py — the
reference repo (osmart-etl) has no audio at all; this is SURVEY.md §2.9
extension surface.  Decoder contract matches ops/audio.py:
``decode_flac(payload) -> (float64 [n_frames, n_channels] in [-1, 1),
sample_rate)``; corrupt payloads raise ValueError only (the
mapInPandas decode_status contract in ops/multimodal.py).

Supported (the full fixed-blocksize baseline of the format):
- metadata block walk (STREAMINFO required; all other types skipped)
- frame header: all block-size / sample-rate / sample-size codes,
  UTF-8-coded frame/sample number, CRC-8 verification
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (4-bit precision, signed shift), wasted-bits unary prefix
- residual: Rice partitions (4- and 5-bit parameter forms) incl. the
  escape-to-raw encoding
- stereo decorrelation: left/side, right/side, mid/side
- CRC-16 frame footer + STREAMINFO MD5 verification (MD5 checked for
  byte-aligned bit depths whenever STREAMINFO carries a nonzero MD5)

Per-sample Python loops (LPC/fixed prediction are sequential
recurrences) run inside mapInPandas workers — the same accepted tier
as the JPEG/VP8/VP8L entropy loops; payload size is bounded upstream.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                13: 8192, 14: 16384, 15: 32768}
_SAMPLE_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
                 6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
                 11: 96000}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# frame-header CRC-8, poly x^8+x^2+x+1 (0x07), init 0
_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

# frame CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0
_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TABLE[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TABLE[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class BitReader:
    """MSB-first bit reader over a frame byte window (FLAC is
    big-endian/MSB-first)."""

    def __init__(self, data: bytes, start: int = 0):
        self.data = data
        self.pos = start          # byte position
        self.bit = 0              # bits consumed in current byte (0..7)

    def read_bits(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.pos >= len(self.data):
                raise ValueError("FLAC: truncated bitstream")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.pos]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            n -= take
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.read_bits(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC: runaway unary code")

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _parse_streaminfo(body: bytes) -> dict:
    if len(body) < 34:
        raise ValueError("FLAC: short STREAMINFO")
    (min_bs, max_bs) = struct.unpack(">HH", body[0:4])
    bits = int.from_bytes(body[10:18], "big")
    sample_rate = bits >> 44
    n_ch = ((bits >> 41) & 0x7) + 1
    bps = ((bits >> 36) & 0x1F) + 1
    total = bits & ((1 << 36) - 1)
    if sample_rate == 0 or not (1 <= n_ch <= 8) or not (4 <= bps <= 32):
        raise ValueError("FLAC: bad STREAMINFO")
    return {"min_bs": min_bs, "max_bs": max_bs, "rate": sample_rate,
            "channels": n_ch, "bps": bps, "total": total, "md5": body[18:34]}


def _read_coded_number(data: bytes, pos: int) -> tuple[int, int]:
    """The frame header's UTF-8-style coded frame/sample number
    (extended to 36-bit values, up to 7 bytes)."""
    if pos >= len(data):
        raise ValueError("FLAC: truncated coded number")
    b0 = data[pos]
    if b0 < 0x80:
        return b0, pos + 1
    n_extra = 0
    mask = 0x40
    while b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra < 1 or n_extra > 6:
        raise ValueError("FLAC: bad coded number")
    v = b0 & (mask - 1)
    for i in range(n_extra):
        if pos + 1 + i >= len(data):
            raise ValueError("FLAC: truncated coded number")
        c = data[pos + 1 + i]
        if (c & 0xC0) != 0x80:
            raise ValueError("FLAC: bad coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v, pos + 1 + n_extra


def _decode_residual(br: BitReader, block_size: int, pred_order: int) -> list[int]:
    method = br.read_bits(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual coding method")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    po = br.read_bits(4)
    n_part = 1 << po
    if block_size % n_part:
        raise ValueError("FLAC: partition order does not divide block size")
    out: list[int] = []
    for p in range(n_part):
        count = (block_size >> po) - (pred_order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC: negative partition sample count")
        param = br.read_bits(param_bits)
        if param == escape:
            nbits = br.read_bits(5)
            if nbits == 0:
                out.extend([0] * count)
            else:
                out.extend(br.read_signed(nbits) for _ in range(count))
        else:
            for _ in range(count):
                q = br.read_unary()
                r = br.read_bits(param) if param else 0
                v = (q << param) | r
                out.append((v >> 1) ^ -(v & 1))
    return out


_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _predict(warmup: list[int], residual: list[int], coefs: list[int], shift: int) -> list[int]:
    order = len(coefs)
    s = list(warmup)
    for r in residual:
        acc = 0
        for j in range(order):
            acc += coefs[j] * s[-1 - j]
        s.append(r + (acc >> shift))
    return s


def _decode_subframe(br: BitReader, block_size: int, bps: int) -> list[int]:
    if br.read_bits(1):
        raise ValueError("FLAC: bad subframe sync bit")
    sf_type = br.read_bits(6)
    wasted = 0
    if br.read_bits(1):
        wasted = br.read_unary() + 1
    eff_bps = bps - wasted
    if eff_bps <= 0:
        raise ValueError("FLAC: wasted bits exceed sample size")
    if sf_type == 0:                                   # CONSTANT
        v = br.read_signed(eff_bps)
        s = [v] * block_size
    elif sf_type == 1:                                 # VERBATIM
        s = [br.read_signed(eff_bps) for _ in range(block_size)]
    elif 8 <= sf_type <= 12:                           # FIXED order 0-4
        order = sf_type & 0x7
        warmup = [br.read_signed(eff_bps) for _ in range(order)]
        residual = _decode_residual(br, block_size, order)
        s = _predict(warmup, residual, _FIXED_COEFS[order], 0)
    elif sf_type >= 32:                                # LPC order 1-32
        order = (sf_type & 0x1F) + 1
        warmup = [br.read_signed(eff_bps) for _ in range(order)]
        prec = br.read_bits(4)
        if prec == 0xF:
            raise ValueError("FLAC: invalid LPC precision")
        prec += 1
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        residual = _decode_residual(br, block_size, order)
        s = _predict(warmup, residual, coefs, shift)
    else:
        raise ValueError(f"FLAC: reserved subframe type {sf_type}")
    if wasted:
        s = [v << wasted for v in s]
    return s


def decode_flac(payload: bytes, verify_md5: bool = True) -> tuple[np.ndarray, int]:
    """REAL FLAC decode -> (float64 [n, ch] in [-1, 1), sample_rate).

    Every frame's CRC-8 (header) and CRC-16 (frame) are verified; the
    STREAMINFO MD5 of the decoded stream is verified when present and
    the bit depth is byte-aligned.  Raises ValueError on any corrupt
    or unsupported payload."""
    if payload[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("FLAC: truncated metadata")
        hdr = payload[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        ln = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + ln]
        if len(body) != ln:
            raise ValueError("FLAC: truncated metadata block")
        if btype == 0:
            info = _parse_streaminfo(body)
        elif btype == 127:
            raise ValueError("FLAC: invalid metadata block type")
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")

    n_ch = info["channels"]
    channels_out: list[list[int]] = [[] for _ in range(n_ch)]
    md5 = hashlib.md5()
    bps_stream = info["bps"]

    while pos < len(payload):
        frame_start = pos
        if pos + 4 > len(payload):
            break
        sync = (payload[pos] << 6) | (payload[pos + 1] >> 2)
        if sync != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        if payload[pos + 1] & 0x02:
            raise ValueError("FLAC: reserved frame header bit set")
        bs_code = payload[pos + 2] >> 4
        sr_code = payload[pos + 2] & 0x0F
        ch_code = payload[pos + 3] >> 4
        ss_code = (payload[pos + 3] >> 1) & 0x7
        if payload[pos + 3] & 1:
            raise ValueError("FLAC: reserved frame header bit set")
        _num, p = _read_coded_number(payload, pos + 4)
        if bs_code == 0:
            raise ValueError("FLAC: reserved block size code")
        elif bs_code == 6:
            block_size = payload[p] + 1; p += 1
        elif bs_code == 7:
            block_size = int.from_bytes(payload[p : p + 2], "big") + 1; p += 2
        else:
            block_size = _BLOCK_SIZES[bs_code]
        if sr_code == 0:
            rate = info["rate"]
        elif sr_code in _SAMPLE_RATES:
            rate = _SAMPLE_RATES[sr_code]
        elif sr_code == 12:
            rate = payload[p] * 1000; p += 1
        elif sr_code == 13:
            rate = int.from_bytes(payload[p : p + 2], "big"); p += 2
        elif sr_code == 14:
            rate = int.from_bytes(payload[p : p + 2], "big") * 10; p += 2
        else:
            raise ValueError("FLAC: invalid sample rate code")
        if ss_code == 0:
            bps = info["bps"]
        elif ss_code in _SAMPLE_SIZES:
            bps = _SAMPLE_SIZES[ss_code]
        else:
            raise ValueError("FLAC: reserved sample size code")
        if p >= len(payload):
            raise ValueError("FLAC: truncated frame header")
        if _crc8(payload[frame_start:p]) != payload[p]:
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        p += 1

        if ch_code <= 7:
            frame_ch = ch_code + 1
            side_idx = None
        elif ch_code in (8, 9, 10):
            frame_ch = 2
            side_idx = 1 if ch_code in (8, 10) else 0
        else:
            raise ValueError("FLAC: reserved channel assignment")
        if frame_ch != n_ch:
            raise ValueError("FLAC: frame channel count != STREAMINFO")

        br = BitReader(payload, p)
        subs = []
        for ci in range(frame_ch):
            ch_bps = bps + (1 if side_idx is not None and ci == side_idx else 0)
            subs.append(_decode_subframe(br, block_size, ch_bps))
        br.align()
        crc_pos = br.pos
        if crc_pos + 2 > len(payload):
            raise ValueError("FLAC: truncated frame footer")
        if _crc16(payload[frame_start:crc_pos]) != int.from_bytes(
            payload[crc_pos : crc_pos + 2], "big"
        ):
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = crc_pos + 2

        if ch_code == 8:        # left/side: right = left - side
            left, side = subs
            subs = [left, [l - s for l, s in zip(left, side)]]
        elif ch_code == 9:      # right/side: left = right + side
            side, right = subs
            subs = [[r + s for r, s in zip(right, side)], right]
        elif ch_code == 10:     # mid/side: m2=(mid<<1)|(side&1); L=(m2+s)>>1, R=(m2-s)>>1
            mid, side = subs
            left, right = [], []
            for m, s in zip(mid, side):
                m2 = (m << 1) | (s & 1)
                left.append((m2 + s) >> 1)
                right.append((m2 - s) >> 1)
            subs = [left, right]
        for ci in range(n_ch):
            channels_out[ci].extend(subs[ci])

        if bps % 8 == 0:
            nb = bps // 8
            inter = np.empty((block_size, n_ch), dtype=np.int64)
            for ci in range(n_ch):
                inter[:, ci] = subs[ci]
            flat = inter.reshape(-1)
            raw = bytearray()
            for v in flat.tolist():
                raw += int(v & ((1 << bps) - 1)).to_bytes(nb, "little")
            md5.update(bytes(raw))

    arr = np.array(channels_out, dtype=np.float64).T
    if info["total"] and len(arr) > info["total"]:
        arr = arr[: info["total"]]
    if (
        verify_md5
        and bps_stream % 8 == 0
        and info["md5"] != b"\x00" * 16
        and (not info["total"] or len(arr) == info["total"])
    ):
        if md5.digest() != info["md5"]:
            raise ValueError("FLAC: decoded-stream MD5 mismatch")
    return arr / float(1 << (bps_stream - 1)), info["rate"]


# ---------------------------------------------------------------------------
# Encoder (fixture generator for tests — decode must invert it exactly)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write_bits(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.write_bits(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _write_coded_number(n: int) -> bytes:
    """Inverse of _read_coded_number (UTF-8-style, up to 36 bits)."""
    if n < 0x80:
        return bytes([n])
    for n_extra in range(1, 7):
        first_bits = 6 - n_extra
        if n < 1 << (first_bits + 6 * n_extra):
            lead_prefix = (0xFE << (6 - n_extra)) & 0xFF
            groups = [(n >> (6 * i)) & 0x3F for i in range(n_extra)]
            lead = lead_prefix | (n >> (6 * n_extra))
            return bytes([lead]) + bytes(0x80 | g for g in reversed(groups))
    raise ValueError("coded number exceeds 36 bits")


def _rice_encode(bw: _BitWriter, residual: list[int], param: int) -> None:
    for r in residual:
        v = (abs(r) << 1) - (1 if r < 0 else 0)   # zigzag
        q, rem = v >> param, v & ((1 << param) - 1)
        bw.write_bits(0, q)
        bw.write_bits(1, 1)
        if param:
            bw.write_bits(rem, param)


def _best_rice_param(residual: list[int]) -> int:
    best_p, best_cost = 0, None
    for p in range(15):
        cost = 0
        for r in residual:
            v = (abs(r) << 1) - (1 if r < 0 else 0)
            cost += (v >> p) + 1 + p
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    return best_p


def _write_residual(bw: _BitWriter, res: list[int], order: int,
                    partition_order: int, escape: bool) -> None:
    """Rice-coded residual section (4-bit parameter form), optionally
    multi-partition and/or the escape-to-raw encoding."""
    bw.write_bits(0, 2)                     # 4-bit rice method
    bw.write_bits(partition_order, 4)
    n_part = 1 << partition_order
    block_size = len(res) + order
    if block_size % n_part:
        raise ValueError("partition order must divide block size")
    start = 0
    for p in range(n_part):
        count = (block_size >> partition_order) - (order if p == 0 else 0)
        part = res[start : start + count]
        start += count
        if escape:
            nbits = max((abs(r) + (r >= 0)).bit_length() + 1 for r in part) if part else 1
            bw.write_bits(0xF, 4)
            bw.write_bits(nbits, 5)
            for r in part:
                bw.write_bits(r, nbits)
        else:
            prm = _best_rice_param(part)
            bw.write_bits(prm, 4)
            _rice_encode(bw, part, prm)


def _write_subframe(bw: _BitWriter, s: list[int], bps: int, mode: str,
                    lpc: tuple[list[int], int] | None,
                    partition_order: int = 0, escape: bool = False) -> None:
    if mode == "constant-or-verbatim":
        mode = "constant" if len(set(s)) == 1 else "verbatim"
    if mode == "constant":
        bw.write_bits(0, 1); bw.write_bits(0, 6); bw.write_bits(0, 1)
        bw.write_bits(s[0], bps)
    elif mode == "verbatim":
        bw.write_bits(0, 1); bw.write_bits(1, 6); bw.write_bits(0, 1)
        for v in s:
            bw.write_bits(v, bps)
    elif mode == "fixed2":
        order = min(2, len(s))
        bw.write_bits(0, 1); bw.write_bits(8 + order, 6); bw.write_bits(0, 1)
        for v in s[:order]:
            bw.write_bits(v, bps)
        coefs = _FIXED_COEFS[order]
        res = []
        for i in range(order, len(s)):
            pred = sum(coefs[j] * s[i - 1 - j] for j in range(order))
            res.append(s[i] - pred)
        _write_residual(bw, res, order, partition_order, escape)
    elif mode == "lpc":
        coefs, shift = lpc
        order = len(coefs)
        bw.write_bits(0, 1); bw.write_bits(32 + order - 1, 6); bw.write_bits(0, 1)
        for v in s[:order]:
            bw.write_bits(v, bps)
        prec = 15
        bw.write_bits(prec - 1, 4)
        bw.write_bits(shift, 5)
        for c in coefs:
            bw.write_bits(c, prec)
        res = []
        for i in range(order, len(s)):
            pred = sum(coefs[j] * s[i - 1 - j] for j in range(order)) >> shift
            res.append(s[i] - pred)
        _write_residual(bw, res, order, partition_order, escape)
    else:
        raise ValueError(f"unknown subframe mode {mode!r}")


def encode_flac(
    samples: np.ndarray,
    rate: int,
    bps: int = 16,
    block_size: int = 1024,
    subframe: str = "fixed2",
    lpc: tuple[list[int], int] | None = None,
    stereo_mode: str = "independent",
    partition_order: int = 0,
    escape: bool = False,
) -> bytes:
    """Minimal spec-conformant FLAC encoder for test fixtures.

    ``subframe``: 'verbatim' | 'constant-or-verbatim' | 'fixed2'
    (fixed order-2 + Rice, partition order 0) | 'lpc' (uses ``lpc`` =
    (coefficients, shift), Rice residual).  ``stereo_mode`` for 2-ch
    input: 'independent' | 'left-side' | 'right-side' | 'mid-side'
    (the three decorrelated forms store the side channel at bps+1, as
    the spec requires).  Emits correct CRC-8/CRC-16 and the
    STREAMINFO MD5 so decoder verification exercises for real."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, n_ch = samples.shape
    ints = np.clip(np.round(samples * float(1 << (bps - 1))),
                   -(1 << (bps - 1)), (1 << (bps - 1)) - 1).astype(np.int64)

    md5 = hashlib.md5()
    nb = bps // 8
    for v in ints.reshape(-1).tolist():
        md5.update(int(v & ((1 << bps) - 1)).to_bytes(nb, "little"))

    info_bits = (rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | n
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2
        + info_bits.to_bytes(8, "big")
        + md5.digest()
    )
    out = bytearray(FLAC_MAGIC)
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    if stereo_mode != "independent" and n_ch != 2:
        raise ValueError("stereo decorrelation requires 2 channels")
    ch_code_map = {"left-side": 8, "right-side": 9, "mid-side": 10}

    for frame_idx, start in enumerate(range(0, n, block_size)):
        blk = ints[start : start + block_size]
        bs = len(blk)
        hdr = bytearray()
        hdr += b"\xFF\xF8"                      # sync + fixed blocking
        hdr.append((7 << 4) | 0)                # bs: 16-bit at end; sr: streaminfo
        ss = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
        ch_code = n_ch - 1 if stereo_mode == "independent" else ch_code_map[stereo_mode]
        hdr.append((ch_code << 4) | (ss << 1))
        hdr += _write_coded_number(frame_idx)
        hdr += (bs - 1).to_bytes(2, "big")
        hdr.append(_crc8(bytes(hdr)))

        # per-subframe (signal, bps) under the channel assignment
        if stereo_mode == "independent":
            subsignals = [(blk[:, ci].tolist(), bps) for ci in range(n_ch)]
        else:
            left, right = blk[:, 0].tolist(), blk[:, 1].tolist()
            side = [l - r for l, r in zip(left, right)]
            if stereo_mode == "left-side":
                subsignals = [(left, bps), (side, bps + 1)]
            elif stereo_mode == "right-side":
                subsignals = [(side, bps + 1), (right, bps)]
            else:  # mid-side
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                subsignals = [(mid, bps), (side, bps + 1)]

        bw = _BitWriter()
        for s, ch_bps in subsignals:
            _write_subframe(bw, s, ch_bps, subframe, lpc, partition_order, escape)
        bw.align()
        frame = bytes(hdr) + bw.bytes()
        out += frame + _crc16(frame).to_bytes(2, "big")
    return bytes(out)
