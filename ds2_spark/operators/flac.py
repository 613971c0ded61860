"""Native FLAC decoder (subset), pure Python/NumPy.

REAL lossless decompression for the codec the pipeline's whitelist
actually names (FIXTURES.md §1: {pcm_s16le, flac, opus}): stream
marker + STREAMINFO parse, frame-header decode with CRC-8 check,
subframe types CONSTANT / VERBATIM / FIXED(0-4) / LPC, Rice-coded
residual partitions (both 4- and 5-bit parameter variants, escape
partitions included), wasted-bits shift, and the four channel
assignments (independent, left/side, right/side, mid/side), frame
CRC-16 verified. That is the complete FLAC subset needed to decode
output of the reference `flac` encoder for 8/16-bit fixed-blocksize
streams.

Like the baseline JPEG decoder (operators/jpeg.py), the bit-serial
entropy layer is correctness-grade pure Python — production would
register a native codec behind the same `register_decoder` surface;
the Spark-side plumbing (schema, mapInPandas batching, bytes
discipline) is identical either way.

Out of scope (REFUSED with ValueError -> decoded_ok=false, never
garbage): non-4/5-bit residual coding methods, bits-per-sample other
than 8/16, streams whose frames fail CRC.

Format: "FLAC format specification" (RFC 9639 / xiph.org) — public.
Tests hand-pack bitstreams whose decoded output is derivable on
paper (CONSTANT, VERBATIM, FIXED with known warmup+residuals), so no
encoder written from the same understanding can self-confirm a bug.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "decode_flac_int",
    "decode_flac",
    "parse_streaminfo",
]


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0."""
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0."""
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _BitReader:
    """MSB-first bit reader over bytes (FLAC is big-endian bit order)."""

    def __init__(self, data: bytes, pos_bytes: int = 0) -> None:
        self.data = data
        self.pos = pos_bytes * 8  # absolute bit position

    def read(self, n: int) -> int:
        """n bits as an unsigned int."""
        v = 0
        pos, data = self.pos, self.data
        end = pos + n
        if end > len(data) * 8:
            raise ValueError("FLAC: bitstream truncated")
        while pos < end:
            byte = data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, end - pos)
            shift = avail - take
            v = (v << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
        self.pos = pos
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count 0 bits up to the terminating 1 bit."""
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC: unbounded unary code")
        return q

    def read_rice(self, param: int) -> int:
        """One Rice-coded signed residual: unary quotient, `param`-bit
        remainder, zigzag-folded sign."""
        q = self.read_unary()
        u = (q << param) | self.read(param) if param else q
        return (u >> 1) ^ -(u & 1)

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def parse_streaminfo(b: bytes) -> dict:
    """'fLaC' marker + metadata walk -> STREAMINFO dict + first frame
    offset. Raises ValueError on anything that is not a FLAC stream."""
    if len(b) < 42 or b[:4] != b"fLaC":
        raise ValueError("FLAC: missing stream marker")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("FLAC: metadata truncated")
        hdr = b[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = pos + 4
        if btype == 0:  # STREAMINFO
            if blen < 34 or body + 34 > len(b):
                raise ValueError("FLAC: bad STREAMINFO")
            r = _BitReader(b, body)
            r.read(16)  # min blocksize
            r.read(16)  # max blocksize
            r.read(24)  # min framesize
            r.read(24)  # max framesize
            sr = r.read(20)
            ch = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
            info = {
                "sr_hz": sr,
                "channels": ch,
                "bits": bps,
                "total_samples": total,
            }
        pos = body + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC: no STREAMINFO block")
    info["frames_off"] = pos
    return info


_BLOCKSIZE_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}


def _read_coded_number(r: _BitReader) -> int:
    """The frame header's UTF-8-style variable-length frame/sample
    number (up to 7 bytes)."""
    first = r.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("FLAC: bad coded number")
    v = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC: bad coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _decode_residual(r: _BitReader, blocksize: int, order: int) -> np.ndarray:
    """Rice-partitioned residual -> int64[blocksize - order]."""
    method = r.read(2)
    if method not in (0, 1):
        raise ValueError("FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC: partition order does not divide blocksize")
    out = np.empty(blocksize - order, dtype=np.int64)
    k = 0
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC: predictor order exceeds first partition")
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            for i in range(count):
                out[k + i] = r.read_signed(raw) if raw else 0
        else:
            for i in range(count):
                out[k + i] = r.read_rice(param)
        k += count
    return out


def _decode_subframe(r: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    pad = r.read(1)
    if pad:
        raise ValueError("FLAC: subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC: wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = r.read_signed(eff)
        x = np.full(blocksize, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        x = np.fromiter(
            (r.read_signed(eff) for _ in range(blocksize)),
            dtype=np.int64, count=blocksize,
        )
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [r.read_signed(eff) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        x = np.empty(blocksize, dtype=np.int64)
        x[:order] = warm
        # fixed predictors are the binomial-coefficient integrators;
        # apply the recurrence directly (orders 0..4 per the spec)
        if order == 0:
            x[:] = res
        else:
            coefs = {
                1: (1,),
                2: (2, -1),
                3: (3, -3, 1),
                4: (4, -6, 4, -1),
            }[order]
            for i in range(order, blocksize):
                acc = 0
                for j, c in enumerate(coefs):
                    acc += c * int(x[i - 1 - j])
                x[i] = acc + int(res[i - order])
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        warm = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4)
        if prec == 15:
            raise ValueError("FLAC: invalid qlp precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative qlp shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        x = np.empty(blocksize, dtype=np.int64)
        x[:order] = warm
        for i in range(order, blocksize):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * int(x[i - 1 - j])
            x[i] = (acc >> shift) + int(res[i - order])
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        x = x << wasted
    return x


def decode_flac_int(b: bytes) -> np.ndarray:
    """FLAC stream -> int32 linear samples, channels averaged to mono
    (matching decode_wav's convention, truncating toward zero).
    Raises ValueError on non-FLAC input, unsupported features, or CRC
    mismatch — callers surface that as decoded_ok=false."""
    info = parse_streaminfo(b)
    bps_si, ch_si = info["bits"], info["channels"]
    if bps_si not in (8, 16):
        raise ValueError("FLAC: only 8/16-bit streams supported")
    pos = info["frames_off"]
    chunks: list[np.ndarray] = []
    total = 0
    while pos < len(b):
        # tolerate trailing padding bytes after the last frame
        if len(b) - pos < 2:
            break
        r = _BitReader(b, pos)
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        if r.read(1):
            raise ValueError("FLAC: reserved frame header bit")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("FLAC: reserved frame header bit")
        _read_coded_number(r)
        if bs_code == 0:
            raise ValueError("FLAC: reserved blocksize code")
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_TABLE[bs_code]
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample rate code")
        # sample size: 0 = from STREAMINFO
        _SS = {0: bps_si, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
        if ss_code == 3:
            raise ValueError("FLAC: reserved sample size code")
        bps = _SS[ss_code]
        if bps != bps_si:
            raise ValueError("FLAC: frame sample size differs from stream")
        crc_end = r.byte_pos()
        crc8 = r.read(8)
        if _crc8(b[pos:crc_end]) != crc8:
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        if ch_code < 8:
            nch = ch_code + 1
            if nch != ch_si:
                raise ValueError("FLAC: frame channels differ from stream")
            subs = [_decode_subframe(r, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            if ch_si != 2:
                raise ValueError("FLAC: stereo decorrelation in non-stereo stream")
            # side channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _decode_subframe(r, blocksize, bps)
                side = _decode_subframe(r, blocksize, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:  # right/side
                side = _decode_subframe(r, blocksize, bps + 1)
                right = _decode_subframe(r, blocksize, bps)
                subs = [right + side, right]
            else:  # mid/side
                mid = _decode_subframe(r, blocksize, bps)
                side = _decode_subframe(r, blocksize, bps + 1)
                mid2 = (mid << 1) | (side & 1)
                subs = [(mid2 + side) >> 1, (mid2 - side) >> 1]
        else:
            raise ValueError("FLAC: reserved channel assignment")
        r.align()
        crc_end = r.byte_pos()
        crc16 = r.read(16)
        if _crc16(b[pos:crc_end]) != crc16:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        if len(subs) == 1:
            mono = subs[0]
        else:
            # average channels, truncating toward zero (int div on the
            # sum would floor; match decode_wav's float-mean-then-cast)
            s = np.sum(subs, axis=0, dtype=np.int64)
            mono = (np.sign(s) * (np.abs(s) // len(subs))).astype(np.int64)
        chunks.append(mono)
        total += blocksize
        pos = r.byte_pos()
        if info["total_samples"] and total >= info["total_samples"]:
            break
    if not chunks:
        raise ValueError("FLAC: no audio frames")
    out = np.concatenate(chunks)
    if info["total_samples"]:
        out = out[: info["total_samples"]]
    return out.astype(np.int32)


def decode_flac(b: bytes) -> np.ndarray:
    """FLAC -> float32 in [-1, 1] (16-bit full-scale convention,
    8-bit streams scaled by 2^8 to the same grid)."""
    info = parse_streaminfo(b)
    pcm = decode_flac_int(b)
    scale = 32767.0 if info["bits"] == 16 else 32767.0 / 256.0
    return pcm.astype(np.float32) / scale
