"""Image payload kernel: deterministic codecs + PSNR + perceptual hash.

The graft's fetch payloads are image+caption rows
(``BASELINE.json.input_hint``: image_id, bytes, w, h, fmt, caption, phash).
This module provides everything the fetch-result consumer needs, pure
numpy/zlib (this container has no PIL/libjpeg/libwebp):

- ``gen_pixels``      — deterministic synthetic RGB pixels from image_id
                        (seeded PCG64; smooth gradients + texture so lossy
                        reconstruction error is realistic).
- PNG                 — a REAL minimal PNG codec (8-bit RGB, zlib, filter 0
                        on encode; filters 0-4 supported on decode).
- ``jpeg``/``webp``   — STAND-IN deterministic lossy codec ("ABWL" container:
                        per-channel quantization + zlib).  PIL/libjpeg are
                        not available in this environment; the Spark-side
                        plumbing (binary column, batch decode inside
                        mapInPandas, PSNR validation) is real and tested,
                        and the codec guarantees PSNR ≥ 40 dB like a
                        high-quality JPEG would.
- ``psnr``            — peak signal-to-noise ratio (dB) between two images.
- ``phash64``         — 64-bit average-hash (8×8 block-mean, thresholded by
                        the global mean), signed int64 like the corpus
                        ``phash`` column.

Validation contract (north rule / input_hint): decoded pixels vs reference
pixels PSNR ≥ 40 dB for lossy ``fmt``, exact for png; caption checked by
string equality on the Spark side.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .hashing import xxhash64_bytes

LOSSY_PSNR_THRESHOLD_DB = 40.0
_QUANT_STEP = 4  # lossy stand-in: max abs error 2 → PSNR ≈ 47 dB


# --------------------------------------------------------------------------
# Deterministic pixel synthesis
# --------------------------------------------------------------------------

_COORD_CACHE: dict = {}


def _coords(n: int) -> np.ndarray:
    """Cached float32 arange — the 1-D coordinate axis of gen_pixels."""
    a = _COORD_CACHE.get(n)
    if a is None:
        a = _COORD_CACHE[n] = np.arange(n, dtype=np.float32)
    return a


def gen_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image for a given id — the 'reference
    pixels' both the corpus generator and the validator derive from.

    The sinusoidal base is separable (sin depends on x only, cos on y only),
    so it is computed as a 1-D sin × 1-D cos outer product — bit-identical
    to the original full-grid evaluation (same float32 inputs, same op
    order per element: (80·sin)·cos) at O(w+h) instead of O(w·h)
    transcendentals.  RNG draw order is unchanged, so every byte matches
    the original implementation (asserted in tests/test_payload_vectorized.py)."""
    seed = xxhash64_bytes(image_id.encode("utf-8")) & 0xFFFFFFFF
    rng = np.random.Generator(np.random.PCG64(seed))
    base = np.empty((h, w, 3), dtype=np.float32)
    fx, fy, ph = rng.uniform(0.5, 4.0, 3), rng.uniform(0.5, 4.0, 3), rng.uniform(0, 6.28, 3)
    xs = _coords(w)
    ys = _coords(h)
    for c in range(3):
        sx = 80.0 * np.sin(fx[c] * xs / max(w, 1) * 6.283 + ph[c])  # (w,)
        cy = np.cos(fy[c] * ys / max(h, 1) * 6.283)  # (h,)
        np.multiply(sx[None, :], cy[:, None], out=base[:, :, c])
        base[:, :, c] += 127.5
    noise = rng.integers(-12, 13, size=(h, w, 3)).astype(np.float32)
    # in-place add/clip (same ops, fewer allocations than base + noise)
    np.add(base, noise, out=noise)
    np.clip(noise, 0, 255, out=noise)
    return noise.astype(np.uint8)


# --------------------------------------------------------------------------
# PNG (real format, minimal subset)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)  # filter byte 0 per scanline
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype != 2 or interlace != 0:
                raise ValueError("unsupported PNG subset")
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    bpp = 3
    if not raw[:, 0].any():
        # all-scanlines-filter-0 fast path (the shape our own encoder and
        # most camera/screenshot PNGs emit): reconstruction is the identity,
        # so skip the per-scanline loop outright — bit-identical output
        return np.ascontiguousarray(raw[:, 1:]).reshape(h, w, 3)
    out = np.empty((h, w * 3), dtype=np.uint8)
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y in range(h):
        f = raw[y, 0]
        line = raw[y, 1:].astype(np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth need sequential recon
            rec = np.empty(w * 3, dtype=np.int32)
            for i in range(w * 3):
                a = rec[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
        out[y] = rec.astype(np.uint8)
        prev = out[y]
    return out.reshape(h, w, 3)


# --------------------------------------------------------------------------
# Lossy stand-in ("jpeg"/"webp") — deterministic quantizing container
# --------------------------------------------------------------------------

_LOSSY_MAGIC = b"ABWL"


def encode_lossy(pixels: np.ndarray, fmt: str) -> bytes:
    h, w, _ = pixels.shape
    q = (pixels.astype(np.int32) + _QUANT_STEP // 2) // _QUANT_STEP
    q = np.clip(q, 0, 255 // _QUANT_STEP).astype(np.uint8)
    payload = zlib.compress(q.tobytes(), 6)
    fmtb = fmt.encode("ascii")[:4].ljust(4, b"\x00")
    return _LOSSY_MAGIC + fmtb + struct.pack(">IIB", w, h, _QUANT_STEP) + payload


def decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] != _LOSSY_MAGIC:
        raise ValueError("not an ABWL payload")
    w, h, step = struct.unpack(">IIB", data[8:17])
    q = np.frombuffer(zlib.decompress(data[17:]), dtype=np.uint8).reshape(h, w, 3)
    if step > 0:
        # quantized values are bounded by the encoder at 255//step, so
        # q*step never exceeds 255: the int32 upcast + clip is the identity
        # and a single uint8 multiply is bit-identical.  A corrupt payload
        # with out-of-range q bytes falls back to the checked path.
        qmax = int(q.max(initial=0))
        if qmax * step <= 255:
            return q * np.uint8(step)
    return (q.astype(np.int32) * step).clip(0, 255).astype(np.uint8)


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    return encode_png(pixels) if fmt == "png" else encode_lossy(pixels, fmt)


def decode_image(data: bytes) -> np.ndarray:
    # truncated/garbled payloads must surface as ValueError (the validator's
    # "corrupt payload" signal), never as a codec-internal exception that
    # would kill the executor task
    try:
        if data[:8] == _PNG_SIG:
            return decode_png(data)
        if data[:4] == _LOSSY_MAGIC:
            return decode_lossy(data)
    except ValueError:
        raise
    except Exception as e:  # zlib.error, struct.error, reshape mismatch, ...
        raise ValueError(f"corrupt image payload: {e}") from e
    raise ValueError("unknown image container")


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit average hash: 8×8 block-mean grayscale thresholded by mean."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                                xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


# --------------------------------------------------------------------------
# Batched phash (bit-identical to per-image phash64, vectorized over a
# stack of same-shape images)
# --------------------------------------------------------------------------

def _sum_last_exact(a: np.ndarray) -> np.ndarray:
    """Sum over the LAST axis reproducing numpy's ``np.add.reduce`` pairwise
    summation order exactly (the order ``ndarray.mean()`` uses), vectorized
    over the leading axes.  numpy's algorithm: n<8 → sequential; n≤128 →
    eight stride-8 accumulators combined as ((r0+r1)+(r2+r3))+((r4+r5)+
    (r6+r7)) plus a sequential tail; n>128 → recursive halves (the lower
    half rounded down to a multiple of 8).  Bit-for-bit equality with the
    scalar reduction is asserted in tests/test_payload_vectorized.py."""
    n = a.shape[-1]
    if n == 0:
        return np.zeros(a.shape[:-1], dtype=a.dtype)
    if n < 8:
        res = a[..., 0].copy()
        for i in range(1, n):
            res += a[..., i]
        return res
    if n <= 128:
        r = [a[..., j].copy() for j in range(8)]
        i = 8
        lim = n - (n % 8)
        while i < lim:
            for j in range(8):
                r[j] += a[..., i + j]
            i += 8
        res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]))
        while i < n:
            res = res + a[..., i]
            i += 1
        return res
    n2 = n // 2
    n2 -= n2 % 8
    return _sum_last_exact(a[..., :n2]) + _sum_last_exact(a[..., n2:])


def _gray_exact(stack: np.ndarray) -> np.ndarray:
    """(N, h, w, 3) uint8 → (N, h, w) float64 channel mean, bit-identical
    to ``pixels.astype(np.float64).mean(axis=2)``: the 3-channel sum is an
    integer ≤ 765, exact in uint16 AND in the float64 adds the scalar path
    performs, so summing in uint16 first (one f64 conversion instead of
    three) yields the identical quotient."""
    s = stack[..., 0].astype(np.uint16)
    s += stack[..., 1]
    s += stack[..., 2]
    return s.astype(np.float64) / 3.0


_PHASH_IDX_CACHE: dict = {}
# numpy's ufunc buffer: a reduction over more elements sums buffer-sized
# chunks in sequence, an order _sum_last_exact does not reproduce
_NP_BUFSIZE = 8192


def _phash_block_index(h: int, w: int):
    """For an (h, w) image: the 64 phash blocks' flat pixel indices, grouped
    by block size so every same-size block shares one exact pairwise
    reduction.  Returns [(n_elems, block_positions, idx_matrix)] with
    block_positions the row-major block numbers (i*8+j) and idx_matrix of
    shape (n_blocks, n_elems) — or None when the scalar path must run: a
    degenerate block needs its max-guard (h < 8 or w < 8), or a block of
    more than _NP_BUFSIZE elements is reduced in an order the batch sum
    does not reproduce."""
    key = (h, w)
    got = _PHASH_IDX_CACHE.get(key)
    if got is not None or key in _PHASH_IDX_CACHE:
        return got
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    dy, dx = np.diff(ys), np.diff(xs)
    if (dy <= 0).any() or (dx <= 0).any() or dy.max() * dx.max() > _NP_BUFSIZE:
        _PHASH_IDX_CACHE[key] = None
        return None
    by_size: dict = {}
    for i in range(8):
        rows = np.arange(ys[i], ys[i + 1])
        for j in range(8):
            cols = np.arange(xs[j], xs[j + 1])
            # row-major flat order = the logical order .mean() reduces in
            flat = (rows[:, None] * w + cols[None, :]).ravel()
            by_size.setdefault(len(flat), ([], []))
            by_size[len(flat)][0].append(i * 8 + j)
            by_size[len(flat)][1].append(flat)
    out = [
        (n, np.asarray(pos, dtype=np.int64), np.asarray(idx, dtype=np.int64))
        for n, (pos, idx) in by_size.items()
    ]
    _PHASH_IDX_CACHE[key] = out
    return out


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """phash64 over a stack of same-shape images: (N, h, w, 3) uint8 →
    (N,) int64, each value bit-identical to ``phash64(stack[i])`` (same
    float64 summation order via _sum_last_exact; equality asserted in
    tests and verified exhaustively over the bench corpus)."""
    n_img, h, w = stack.shape[0], stack.shape[1], stack.shape[2]
    if n_img == 0:
        return np.empty(0, dtype=np.int64)
    groups = _phash_block_index(h, w)
    if groups is None:  # degenerate or oversized blocks: scalar path
        return np.asarray([phash64(im) for im in stack], dtype=np.int64)
    gray = _gray_exact(stack).reshape(n_img, h * w)
    blocks = np.empty((n_img, 64), dtype=np.float64)
    for n_elems, positions, idx in groups:
        gathered = gray[:, idx]  # (N, n_blocks, n_elems) row-major per block
        blocks[:, positions] = _sum_last_exact(gathered) / n_elems
    thresh = _sum_last_exact(blocks) / 64.0
    bits = blocks > thresh[:, None]
    packed = np.packbits(bits, axis=1)  # (N, 8) MSB-first == the v<<1 loop
    u = np.ascontiguousarray(packed).view(">u8").ravel().astype(np.uint64)
    return u.view(np.int64).copy()
