"""Stdlib+numpy baseline JPEG codec (JFIF, grayscale, baseline sequential).

Closes the last format gap vs the reference, whose FL path decodes real
JPEGs (reference: src/federated_learning_pipeline.py:36-40 ``tf.io.
decode_jpeg``; src/preprocessing_pipeline.py:39 ``cv2.imread``) — this
container ships neither cv2 nor PIL nor tf, so the codec is implemented
from the public JPEG spec (ITU-T T.81) with the same discipline as the
stdlib PNG codec in ``multimodal.py``:

- ``encode_jpeg``: 8-bit grayscale → JFIF baseline-sequential bytes.
  Level shift → 8×8 block DCT (one vectorized matrix triple-product over
  ALL blocks at once) → quantization (Annex K Table K.1 scaled by the
  libjpeg quality formula) → zigzag → DC-differential + AC run-length →
  canonical Huffman (Annex K DC/AC luminance tables) → byte stuffing.
- ``decode_jpeg``: full marker parse (SOI/APP0/COM/DQT/SOF0/DHT/SOS/EOI),
  canonical Huffman table reconstruction from DHT, entropy decode,
  dequantize → inverse zigzag → vectorized IDCT → level shift → crop.
  Rejects what it cannot decode (progressive SOF2, multi-component,
  16-bit quant tables, restart intervals) instead of guessing.

Only the per-block entropy coding is a Python loop (it is inherently
sequential within a scan); every DSP stage — DCT, quantization, zigzag,
dequantization, IDCT — is a single numpy operation over the whole block
array, so cost scales with blocks, not pixels. In the engine the codec
runs inside ``mapInPandas`` workers: embarrassingly parallel per image,
no shuffle, no driver involvement.

The codec is lossy by nature; roundtrip properties are therefore bounds
(max pixel error at a given quality), except quality=100 where the scaled
quant table collapses to all-ones and error comes only from DCT float
rounding (pinned ≤ 1 in tests/test_multimodal.py).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Tables (JPEG spec Annex K — public standard constants)
# ---------------------------------------------------------------------------

# Table K.1 — luminance quantization, natural (row-major) order.
_QUANT_K1 = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

# Tables K.3/K.5 — luminance DC/AC Huffman: (BITS counts for lengths 1..16,
# HUFFVAL symbol list). Canonical code assignment reconstructs the codes.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Zigzag scan order (spec Figure 5): _ZIGZAG[i] = natural index of the i-th
# zigzag coefficient; _UNZIGZAG is its inverse permutation.
def _zigzag_order() -> np.ndarray:
    order = sorted(
        ((x, y) for x in range(8) for y in range(8)),
        key=lambda p: (
            p[0] + p[1],
            p[1] if (p[0] + p[1]) % 2 else p[0],
        ),
    )
    return np.array([x * 8 + y for x, y in order], dtype=np.int64)


_ZIGZAG = _zigzag_order()

# Orthonormal 8-point DCT-II matrix: dct2(B) = D @ B @ D.T, idct = D.T @ C @ D.
def _dct_matrix() -> np.ndarray:
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    d = np.cos((2 * n + 1) * k * np.pi / 16) / 2
    d[0, :] = 1 / (2 * np.sqrt(2))
    return d


_DCT = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via canonical assignment (spec C.2)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


def quant_table(quality: int) -> np.ndarray:
    """Annex K.1 scaled by the libjpeg quality convention, clamped to
    [1, 255] (8-bit DQT precision). quality=100 → all-ones (near-lossless:
    only DCT float rounding remains)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_QUANT_K1 * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# Bit I/O
# ---------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("_buf", "_acc", "_nbits")

    def __init__(self) -> None:
        self._buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self._buf.append(byte)
            if byte == 0xFF:  # byte stuffing (spec F.1.2.3)
                self._buf.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def finish(self) -> bytes:
        if self._nbits:  # pad final byte with 1s (spec F.1.2.3)
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self._buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits) for a DC diff / AC coefficient (spec F.1.2)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _to_blocks(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to 8×8 multiples and tile into (n, 8, 8)."""
    h, w = img.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    hh, ww = img.shape
    blocks = (
        img.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    return blocks, hh // 8, ww // 8


def encode_jpeg(img: np.ndarray, quality: int = 75) -> bytes:
    """8-bit grayscale (H, W) → baseline-sequential JFIF bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_jpeg expects a 2-D uint8 array")
    h, w = img.shape
    if not (0 < h <= 0xFFFF and 0 < w <= 0xFFFF):
        raise ValueError("image dimensions out of JPEG range")
    q = quant_table(quality)

    blocks, _, _ = _to_blocks(img)
    # Whole-corpus-of-blocks DSP in three numpy ops: level shift, DCT
    # (D @ B @ D.T batched via einsum), quantize to nearest integer.
    shifted = blocks.astype(np.float64) - 128.0
    coeffs = np.einsum("ij,njk,lk->nil", _DCT, shifted, _DCT)
    quant = np.round(coeffs / q).astype(np.int64)
    zz = quant.reshape(-1, 64)[:, _ZIGZAG]  # (n, 64) zigzag-ordered

    wr = _BitWriter()
    prev_dc = 0
    for row in zz:
        s, bits = _magnitude(int(row[0]) - prev_dc)
        prev_dc = int(row[0])
        code, length = _DC_ENC[s]
        wr.write(code, length)
        if s:
            wr.write(bits, s)
        run = 0
        nz = np.nonzero(row[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(row[i])
            if v == 0:
                run += 1
                continue
            while run > 15:  # ZRL: 16 zeros
                code, length = _AC_ENC[0xF0]
                wr.write(code, length)
                run -= 16
            s, bits = _magnitude(v)
            code, length = _AC_ENC[(run << 4) | s]
            wr.write(code, length)
            wr.write(bits, s)
            run = 0
        if last < 63:  # EOB
            code, length = _AC_ENC[0x00]
            wr.write(code, length)
    scan = wr.finish()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + (1).to_bytes(2, "big") * 2 + b"\x00\x00"
    dqt = bytes([0x00]) + bytes(int(x) for x in q.reshape(64)[_ZIGZAG])
    sof0 = (
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])  # 1 component, id=1, 1×1 sampling, qtable 0
    )
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])  # comp 1 → DC table 0 / AC table 0
    return (
        b"\xff\xd8"  # SOI
        + seg(0xE0, app0)
        + seg(0xDB, dqt)
        + seg(0xC0, sof0)
        + seg(0xC4, dht)
        + seg(0xDA, sos)
        + scan
        + b"\xff\xd9"  # EOI
    )


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


# Round 17 (guide §4.2 per-task work): flat 16-bit lookup decode for the
# entropy scan. The previous bit-by-bit (length, code)-dict walk cost one
# dict probe per BIT (~534k read_bit calls per 100 images profiled);
# peeking 16 bits and indexing a prebuilt (symbol, length) table decodes
# each Huffman code in O(1). Values are identical by construction — a
# canonical Huffman code of length L owns exactly the 2^(16-L) table slots
# prefixed by it. The LUT is a pure function of the DHT payload, memoized
# process-wide (same footing as the _DCT constant — derived from the input
# bytes of the CURRENT stream, not from any dataset). Capped: an encoder
# that emits per-image optimized tables would otherwise grow it by ~1 MB
# per distinct table for the life of the executor; eviction is FIFO, so a
# hit stays a single dict lookup.
_LUT_CACHE: dict[tuple[bool, tuple[int, ...], tuple[int, ...]], tuple[list, list]] = {}
_LUT_CACHE_MAX = 64


def _build_lut(dc: bool, bits: list[int], vals: list[int]) -> tuple[list, list]:
    key = (dc, tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    if len(bits) < 16 or len(vals) < sum(bits):
        raise ValueError("invalid Huffman table: truncated DHT")
    # a DC symbol is the bit length of the difference that follows it
    if dc and max(vals, default=0) > 15:
        raise ValueError(f"invalid Huffman table: DC category {max(vals)} > 15")
    syms = [-1] * (1 << 16)
    lens = [0] * (1 << 16)
    code = 0
    idx = 0
    for length in range(1, 17):
        # canonical codes of this length run from `code` upward and must
        # fit in `length` bits; more is an over-subscribed table
        if code + bits[length - 1] > 1 << length:
            raise ValueError("invalid Huffman table: over-subscribed code lengths")
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            syms[lo:hi] = [vals[idx]] * (hi - lo)
            lens[lo:hi] = [length] * (hi - lo)
            code += 1
            idx += 1
        code <<= 1
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        _LUT_CACHE.pop(next(iter(_LUT_CACHE)), None)
    _LUT_CACHE[key] = (syms, lens)
    return syms, lens


def decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline-sequential grayscale JFIF → (H, W) uint8.

    The reference decodes JPEGs at
    src/federated_learning_pipeline.py:36-40. Supports what
    ``encode_jpeg`` and any standard single-component baseline encoder
    emit; rejects progressive/multi-component/16-bit-DQT/restart streams
    with a precise error instead of guessing."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[list, list]] = {}
    h = w = -1
    comp_q = 0
    scan_dc = scan_ac = 0
    scan_start = -1

    while pos < len(content):
        if content[pos] != 0xFF or pos + 1 >= len(content):
            raise ValueError(f"expected marker at byte {pos}")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI (no scan seen yet)
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:  # standalone
            continue
        ln = int.from_bytes(content[pos : pos + 2], "big")
        if ln < 2 or pos + ln > len(content):
            raise ValueError("truncated JPEG segment")
        payload = content[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                zzq = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                nat = np.empty(64, dtype=np.int64)
                nat[_ZIGZAG] = zzq
                qtables[tq] = nat.reshape(8, 8)
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            if payload[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            ncomp = payload[5]
            if ncomp != 1:
                raise ValueError("only single-component (grayscale) supported")
            if payload[7] != 0x11:
                raise ValueError("subsampling unsupported for grayscale")
            comp_q = payload[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                nsym = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nsym])
                htables[(tc, th)] = _build_lut(tc == 0, bits, vals)
                p += 17 + nsym
        elif marker == 0xDD:
            raise ValueError("restart intervals not supported")
        elif marker == 0xDA:  # SOS
            if payload[0] != 1:
                raise ValueError("only single-component scans supported")
            scan_dc, scan_ac = payload[2] >> 4, payload[2] & 0x0F
            scan_start = pos + ln
            break
        # APPn / COM / others: skipped
        pos += ln

    if scan_start < 0 or h < 0:
        raise ValueError("malformed JPEG (missing SOF/SOS)")
    q = qtables.get(comp_q)
    dc_tab = htables.get((0, scan_dc))
    ac_tab = htables.get((1, scan_ac))
    if q is None or dc_tab is None or ac_tab is None:
        raise ValueError("malformed JPEG (missing DQT/DHT for scan)")

    # Entropy segment: up to EOI, with stuffed 0x00 stripped.
    end = content.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("malformed JPEG (missing EOI)")
    scan = content[scan_start:end].replace(b"\xff\x00", b"\xff")

    bh, bw = (h + 7) // 8, (w + 7) // 8
    zz = np.zeros((bh * bw, 64), dtype=np.int64)
    # LUT entropy decode (see _build_lut): peek 16 bits, resolve the whole
    # Huffman code in one list index, advance by its length. `_extend` is
    # inlined (spec F.2.2.1). Truncation parity with the bit-by-bit reader:
    # a resolved code or value field whose LAST bit lies past the real
    # stream raises exactly where read_bit would have needed the missing
    # byte; the 4 padding bytes only ever feed peeks that fail that check.
    dc_sym, dc_len = dc_tab
    ac_sym, ac_len = ac_tab
    scan_p = scan + b"\x00\x00\x00\x00"
    nbytes = len(scan)
    bitpos = 0
    prev_dc = 0
    for b in range(bh * bw):
        byte = bitpos >> 3
        off = bitpos & 7
        peek = (
            int.from_bytes(scan_p[byte : byte + 3], "big") >> (8 - off)
        ) & 0xFFFF
        s = dc_sym[peek]
        if s < 0:
            raise ValueError("invalid Huffman code in JPEG stream")
        if (bitpos + dc_len[peek] - 1) >> 3 >= nbytes:
            raise ValueError("truncated JPEG entropy stream")
        bitpos += dc_len[peek]
        if s:
            if (bitpos + s - 1) >> 3 >= nbytes:
                raise ValueError("truncated JPEG entropy stream")
            byte = bitpos >> 3
            off = bitpos & 7
            v = (
                int.from_bytes(scan_p[byte : byte + 4], "big")
                >> (32 - off - s)
            ) & ((1 << s) - 1)
            bitpos += s
            prev_dc += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        zz[b, 0] = prev_dc
        k = 1
        while k < 64:
            byte = bitpos >> 3
            off = bitpos & 7
            peek = (
                int.from_bytes(scan_p[byte : byte + 3], "big") >> (8 - off)
            ) & 0xFFFF
            rs = ac_sym[peek]
            if rs < 0:
                raise ValueError("invalid Huffman code in JPEG stream")
            if (bitpos + ac_len[peek] - 1) >> 3 >= nbytes:
                raise ValueError("truncated JPEG entropy stream")
            bitpos += ac_len[peek]
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC coefficient index out of range")
            if (bitpos + s - 1) >> 3 >= nbytes:
                raise ValueError("truncated JPEG entropy stream")
            byte = bitpos >> 3
            off = bitpos & 7
            v = (
                int.from_bytes(scan_p[byte : byte + 4], "big")
                >> (32 - off - s)
            ) & ((1 << s) - 1)
            bitpos += s
            zz[b, k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1

    # Vectorized inverse DSP over all blocks at once.
    nat = np.zeros_like(zz)
    nat[:, _ZIGZAG] = zz
    coeffs = nat.reshape(-1, 8, 8) * q
    pixels = np.einsum("ji,njk,kl->nil", _DCT, coeffs.astype(np.float64), _DCT)
    pixels = np.clip(np.round(pixels + 128.0), 0, 255).astype(np.uint8)
    img = (
        pixels.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )
    return img[:h, :w]
