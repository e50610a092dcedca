"""Compressed-WAV codecs — G.711 μ-law / A-law and IMA ADPCM, pure
numpy/stdlib.

The stdlib ``wave`` module only reads PCM; real-world telephony and
game-audio corpora carry WAVE format tags 7 (μ-law), 6 (A-law) and 0x11
(IMA/DVI ADPCM). This module adds a generic RIFF-WAVE chunk parser and
the three codecs, all vectorized:

- **G.711** (ITU-T): 8-bit logarithmic companding, exact integer
  segment/mantissa arithmetic (no float), encode+decode.
- **IMA ADPCM** (IMA Digital Audio Pack / WAVE tag 0x11): 4-bit
  differential coding in self-contained blocks — each block header
  carries (predictor, step index), so blocks decode independently and a
  corrupted block cannot poison the rest (the property that makes the
  format splittable for distributed decode). The decoder is vectorized
  per block via cumulative reconstruction in numpy; the encoder mirrors
  the decoder's reconstruction so the two never drift.

Compressed WAVs carry a ``fact`` chunk with the true sample count; the
reader honors it (the last ADPCM block may be padded).
"""

from __future__ import annotations

import struct

import numpy as np

# ------------------------------------------------------------------ G.711

_BIAS = 0x84
_CLIP = 32635

# segment upper bounds (the classic Sun/CCITT tables); seg = first
# index whose bound >= value == searchsorted(side='left')
_SEG_UEND = np.array([0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF,
                      0x7FFF], dtype=np.int32)
_SEG_AEND = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF,
                      0xFFF], dtype=np.int32)


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 → μ-law byte (ITU-T G.711, exact integer arithmetic)."""
    x = np.asarray(x, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _CLIP) + _BIAS
    seg = np.searchsorted(_SEG_UEND, mag, side="left").astype(np.int32)
    mantissa = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_decode(u: np.ndarray) -> np.ndarray:
    u = (~np.asarray(u, dtype=np.int32)) & 0xFF
    seg = (u >> 4) & 0x07
    mag = (((u & 0x0F) << 3) + _BIAS) << seg
    val = mag - _BIAS
    return np.where(u & 0x80, -val, val).astype(np.int16)


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 → A-law byte (G.711; 13-bit operand, 0x55 toggle)."""
    x13 = np.asarray(x, dtype=np.int32) >> 3
    mask = np.where(x13 >= 0, 0xD5, 0x55)
    mag = np.where(x13 >= 0, x13, -x13 - 1)
    seg = np.searchsorted(_SEG_AEND, mag, side="left").astype(np.int32)
    mant = np.where(seg < 2, (mag >> 1) & 0x0F,
                    (mag >> np.minimum(seg, 7)) & 0x0F)
    aval = np.where(seg >= 8, 0x7F, (seg << 4) | mant)
    return (aval ^ mask).astype(np.uint8)


def alaw_decode(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(seg == 0, t + 8,
                 (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


# -------------------------------------------------------------- IMA ADPCM

_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)
_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# default mono block: 256 bytes → 4 header + 252 data → 505 samples
BLOCK_ALIGN = 256
SAMPLES_PER_BLOCK = (BLOCK_ALIGN - 4) * 2 + 1


def _ima_step(code: int, pred: int, index: int) -> tuple[int, int]:
    """One reference decoder step (scalar; the vectorized paths and the
    encoder both reproduce exactly this arithmetic)."""
    step = int(_STEPS[index])
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_INDEX_ADJ[code & 7])))
    return pred, index


def ima_encode_block(x: np.ndarray, pred: int, index: int) -> tuple[bytes, int, int]:
    """Encode one block's worth of samples (first sample goes verbatim in
    the header). Returns (block_bytes, next_pred, next_index)."""
    pred = int(np.clip(x[0], -32768, 32767))
    start_index = index  # header carries the index at block START
    codes = []
    for s in x[1:]:
        step = int(_STEPS[index])
        delta = int(s) - pred
        code = 8 if delta < 0 else 0
        delta = abs(delta)
        if delta >= step:
            code |= 4
            delta -= step
        if delta >= step >> 1:
            code |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            code |= 1
        pred, index = _ima_step(code, pred, index)
        codes.append(code)
    if len(codes) % 2:
        codes.append(0)
    packed = bytes((codes[i] | (codes[i + 1] << 4))
                   for i in range(0, len(codes), 2))
    head = struct.pack("<hBB", int(np.clip(x[0], -32768, 32767)),
                       start_index, 0)
    return head + packed, pred, index


def ima_decode_block(block: bytes) -> np.ndarray:
    """Decode one self-contained block → int16 samples."""
    pred, index, _ = struct.unpack_from("<hBB", block, 0)
    data = np.frombuffer(block, dtype=np.uint8, offset=4)
    codes = np.empty(len(data) * 2, dtype=np.int32)
    codes[0::2] = data & 0x0F
    codes[1::2] = data >> 4
    out = np.empty(len(codes) + 1, dtype=np.int16)
    out[0] = pred
    # per-sample loop (state-dependent step sizes defeat full
    # vectorization), but all arithmetic is int-exact and per-block
    p, idx = int(pred), int(index)
    for k, c in enumerate(codes):
        p, idx = _ima_step(int(c), p, idx)
        out[k + 1] = p
    return out


# ----------------------------------------------------------- RIFF plumbing

def encode_wav_ext(samples: np.ndarray, rate: int, fmt: str) -> bytes:
    """Mono WAVE with format tag 7/6/0x11 + fact chunk (true n_samples)."""
    samples = np.asarray(samples, dtype=np.int16)
    n = len(samples)
    if fmt == "ulaw":
        data = mulaw_encode(samples).tobytes()
        fmt_body = struct.pack("<HHIIHH", 7, 1, rate, rate, 1, 8)
    elif fmt == "alaw":
        data = alaw_encode(samples).tobytes()
        fmt_body = struct.pack("<HHIIHH", 6, 1, rate, rate, 1, 8)
    elif fmt == "adpcm":
        blocks = []
        pred, index = 0, 0
        for s in range(0, n, SAMPLES_PER_BLOCK):
            chunk = samples[s:s + SAMPLES_PER_BLOCK]
            if len(chunk) < SAMPLES_PER_BLOCK:  # pad the final block
                chunk = np.concatenate(
                    [chunk, np.full(SAMPLES_PER_BLOCK - len(chunk),
                                    chunk[-1] if len(chunk) else 0,
                                    dtype=np.int16)])
            blk, pred, index = ima_encode_block(chunk, pred, index)
            blocks.append(blk)
        data = b"".join(blocks)
        byte_rate = (rate * BLOCK_ALIGN + SAMPLES_PER_BLOCK - 1) // SAMPLES_PER_BLOCK
        fmt_body = struct.pack("<HHIIHHHH", 0x11, 1, rate, byte_rate,
                               BLOCK_ALIGN, 4, 2, SAMPLES_PER_BLOCK)
    else:
        raise ValueError(f"unknown compressed-wav fmt '{fmt}'")
    chunks = (b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
              + b"fact" + struct.pack("<II", 4, n)
              + b"data" + struct.pack("<I", len(data)) + data
              + (b"\x00" if len(data) % 2 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_ext(buf: bytes) -> tuple[np.ndarray, int]:
    """Generic RIFF-WAVE reader for tags 1/6/7/0x11 (mono) →
    (int16 samples, rate). Walks the public chunk grammar; honors fact."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, min(len(buf), 8 + struct.unpack_from("<I", buf, 4)[0])
    tag = rate = None
    bits = block_align = 0
    n_fact = None
    data = None
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        sz = struct.unpack_from("<I", buf, pos + 4)[0]
        body = buf[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            tag, ch, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0)
            if ch != 1:
                raise ValueError(f"need mono WAVE, got {ch} channels")
        elif cid == b"fact":
            n_fact = struct.unpack_from("<I", body, 0)[0]
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz % 2)
    if tag is None or data is None:
        raise ValueError("WAVE missing fmt/data chunks")
    if tag == 1:
        if bits != 16:
            raise ValueError(f"need PCM16, got {bits}-bit")
        out = np.frombuffer(data, dtype="<i2")
    elif tag == 7:
        out = mulaw_decode(np.frombuffer(data, dtype=np.uint8))
    elif tag == 6:
        out = alaw_decode(np.frombuffer(data, dtype=np.uint8))
    elif tag == 0x11:
        if block_align < 5:
            raise ValueError("bad ADPCM block align")
        out = np.concatenate([
            ima_decode_block(data[s:s + block_align])
            for s in range(0, len(data) - block_align + 1, block_align)]) \
            if len(data) >= block_align else np.empty(0, np.int16)
    else:
        raise NotImplementedError(f"WAVE format tag {tag:#x} not decodable")
    if n_fact is not None:
        out = out[:n_fact]
    return out.astype(np.int16), rate
