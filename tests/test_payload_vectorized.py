"""Bit-exactness gates for the round-6 vectorized payload kernels.

The optimization round rewrote gen_pixels (separable outer product),
decode_png (filter-0 fast path), decode_lossy (uint8 fast multiply),
phash64_batch (numpy-pairwise-order emulation) and validate_payload_batches
(shape-grouped vectorization).  Every one of them must reproduce the
round-5 per-image semantics bit for bit — these tests pin that against
frozen copies of the round-5 reference implementations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from abwcf_spark.kernels.hashing import xxhash64_bytes, xxhash64_str
from abwcf_spark.kernels.imagecodec import (
    LOSSY_PSNR_THRESHOLD_DB,
    decode_image,
    decode_lossy,
    decode_png,
    encode_image,
    encode_lossy,
    gen_pixels,
    phash64,
    phash64_batch,
    psnr,
)
from abwcf_spark.operators.udfs import validate_payload_batches


# ---------------------------------------------------------------- reference
# Frozen round-5 implementations (what the optimized kernels must equal).

def _gen_pixels_r5(image_id: str, w: int, h: int) -> np.ndarray:
    seed = xxhash64_bytes(image_id.encode("utf-8")) & 0xFFFFFFFF
    rng = np.random.Generator(np.random.PCG64(seed))
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float32)
    base = np.empty((h, w, 3), dtype=np.float32)
    fx, fy, ph = (
        rng.uniform(0.5, 4.0, 3),
        rng.uniform(0.5, 4.0, 3),
        rng.uniform(0, 6.28, 3),
    )
    for c in range(3):
        base[:, :, c] = (
            127.5
            + 80.0 * np.sin(fx[c] * xx / max(w, 1) * 6.283 + ph[c])
            * np.cos(fy[c] * yy / max(h, 1) * 6.283)
        )
    noise = rng.integers(-12, 13, size=(h, w, 3)).astype(np.float32)
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def _validate_rows_r5(pdf: pd.DataFrame) -> np.ndarray:
    """The round-5 per-row validator loop, verbatim."""
    oks = np.zeros(len(pdf), dtype=bool)
    for i, row in enumerate(pdf.itertuples(index=False)):
        try:
            px = decode_image(bytes(row.bytes))
        except (ValueError, TypeError):
            continue
        ref = gen_pixels(str(row.image_id), int(row.w), int(row.h))
        if row.fmt == "png":
            pix_ok = px.shape == ref.shape and bool((px == ref).all())
            ham_ok = phash64(px) == int(row.phash)
        else:
            pix_ok = psnr(px, ref) >= LOSSY_PSNR_THRESHOLD_DB
            ham = bin((phash64(px) ^ int(row.phash)) & ((1 << 64) - 1)).count("1")
            ham_ok = ham <= 8
        expected_caption = (
            f"caption of {row.image_id}: deterministic text "
            + str((xxhash64_str(str(row.url)) & 0x7FFFFFFFFFFFFFFF) % 1000)
        )
        oks[i] = pix_ok and ham_ok and row.caption == expected_caption
    return oks


SHAPES = [(96, 64), (104, 70), (97, 65), (17, 23), (8, 8), (7, 5), (3, 11)]


def test_gen_pixels_bit_identical_to_r5():
    for i in range(40):
        for w, h in SHAPES:
            a = gen_pixels(f"img-{i}", w, h)
            b = _gen_pixels_r5(f"img-{i}", w, h)
            assert a.dtype == b.dtype and a.shape == b.shape
            assert (a == b).all(), (i, w, h)


def test_phash64_batch_bit_identical_scalar():
    for w, h in SHAPES:
        stack = np.stack(
            [gen_pixels(f"ph-{k}", w, h) for k in range(32)]
        )
        got = phash64_batch(stack)
        want = np.asarray([phash64(im) for im in stack], dtype=np.int64)
        assert (got == want).all(), (w, h)


def test_phash64_batch_quantized_ties():
    # lossy-decoded pixels are multiples of the quant step — the most
    # tie-prone input for the threshold comparison
    for w, h in [(96, 64), (104, 70), (100, 66)]:
        stack = np.stack(
            [
                decode_lossy(encode_lossy(gen_pixels(f"q-{k}", w, h), "jpeg"))
                for k in range(32)
            ]
        )
        got = phash64_batch(stack)
        want = np.asarray([phash64(im) for im in stack], dtype=np.int64)
        assert (got == want).all(), (w, h)


def _equal_mean_blocks(w: int, h: int, seed: int) -> np.ndarray:
    """An image whose 64 phash blocks hold the SAME pixels, each block in
    its own random order: every block mean equals the image mean in exact
    arithmetic, so each hash bit is decided by float rounding alone — the
    tie that exposes any difference in summation order."""
    rng = np.random.default_rng(seed)
    bh, bw = h // 8, w // 8
    tile = rng.integers(0, 256, size=(bh * bw, 3), dtype=np.uint8)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(8):
        for j in range(8):
            out[i * bh:(i + 1) * bh, j * bw:(j + 1) * bw] = (
                tile[rng.permutation(bh * bw)].reshape(bh, bw, 3)
            )
    return out


def test_phash64_batch_large_blocks_match_scalar():
    # blocks above numpy's 8192-element ufunc buffer (≳ 724 px a side) are
    # summed in buffer chunks by phash64's .mean(); the batch path must
    # give the same bits there too
    for w, h in [(800, 800), (832, 832), (1024, 768)]:
        stack = np.stack([_equal_mean_blocks(w, h, k) for k in range(4)])
        got = phash64_batch(stack)
        want = np.asarray([phash64(im) for im in stack], dtype=np.int64)
        assert (got == want).all(), (w, h)


def test_decode_fast_paths_round_trip():
    for i, (w, h) in enumerate(SHAPES):
        px = gen_pixels(f"d-{i}", w, h)
        assert (decode_png(encode_image(px, "png")) == px).all()
        lossy = decode_lossy(encode_image(px, "jpeg"))
        # the uint8 fast multiply must equal the checked int32 path
        q = np.frombuffer(
            __import__("zlib").decompress(encode_image(px, "jpeg")[17:]),
            dtype=np.uint8,
        ).reshape(h, w, 3)
        want = (q.astype(np.int32) * 4).clip(0, 255).astype(np.uint8)
        assert (lossy == want).all()


def test_decode_png_nonzero_filters_still_supported():
    # hand-build a 2x3 PNG using filter 2 (Up) per scanline and check the
    # sequential reconstruction path still runs (fast path must not break it)
    import struct
    import zlib

    from abwcf_spark.kernels.imagecodec import _PNG_SIG, _chunk

    px = gen_pixels("flt", 3, 2)
    h, w = px.shape[0], px.shape[1]
    flat = px.reshape(h, w * 3).astype(np.int32)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[0, 0] = 0
    raw[0, 1:] = flat[0]
    raw[1, 0] = 2  # Up filter: line - prev
    raw[1, 1:] = ((flat[1] - flat[0]) & 0xFF).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(data) == px).all()


def _corpus_rows(n: int = 120) -> pd.DataFrame:
    """Adversarial validation fixture: good rows across shapes/formats plus
    every corruption class the validator must flag."""
    rows = []
    for i in range(n):
        w = 96 + (i % 9)
        h = 64 + ((i * 7) % 7)
        fmt = ["png", "jpeg", "webp"][i % 3]
        image_id = f"img-{i}"
        url = f"http://host{i % 7}.example/p/{i}"
        px = gen_pixels(image_id, w, h)
        payload = encode_image(px, fmt)
        ph = phash64(px)
        cap = (
            f"caption of {image_id}: deterministic text "
            + str((xxhash64_str(url) & 0x7FFFFFFFFFFFFFFF) % 1000)
        )
        kind = i % 10
        if kind == 7:
            payload = payload[: len(payload) // 2]  # truncated
        elif kind == 8:
            cap = cap + "!"  # caption tamper
        elif kind == 9:
            u = (ph ^ (1 << (i % 64))) & ((1 << 64) - 1)  # phash tamper
            ph = u - (1 << 64) if u >= (1 << 63) else u
        elif kind == 5 and fmt != "png":
            # heavy pixel corruption: decodable but fails PSNR
            bad = px.copy()
            bad[::2] = 255 - bad[::2]
            payload = encode_image(bad, fmt)
        elif kind == 3:
            w, h = w + 1, h  # declared size mismatch vs decoded shape
        rows.append(
            dict(
                url=url, bytes=payload, image_id=image_id, w=w, h=h,
                fmt=fmt, caption=cap, phash=ph,
            )
        )
    rows.append(
        dict(
            url="http://x/none", bytes=None, image_id="none", w=96, h=64,
            fmt="png", caption="c", phash=0,
        )
    )
    return pd.DataFrame(rows)


def test_validate_payload_batches_matches_r5_rowwise():
    pdf = _corpus_rows()
    want = _validate_rows_r5(pdf)
    # some rows must fail and some must pass for the test to mean anything
    assert want.any() and (~want).any()
    out = pd.concat(list(validate_payload_batches(iter([pdf]))))
    assert list(out["url"]) == list(pdf["url"])
    assert (out["payload_ok"].to_numpy() == want).all()


def test_validate_payload_batches_multiple_batches():
    pdf = _corpus_rows(50)
    parts = [pdf.iloc[:17], pdf.iloc[17:40], pdf.iloc[40:]]
    out = pd.concat(list(validate_payload_batches(iter(parts))))
    want = _validate_rows_r5(pdf)
    assert (out["payload_ok"].to_numpy() == want).all()


def test_sum_last_exact_matches_numpy_reduce():
    from abwcf_spark.kernels.imagecodec import _sum_last_exact

    rng = np.random.default_rng(7)
    # valid up to numpy's 8192-element ufunc buffer (beyond it numpy sums
    # buffer chunks sequentially); phash blocks are <= ~150 elements
    for n in [1, 3, 7, 8, 9, 64, 96, 104, 117, 128, 129, 144, 1000, 4096]:
        a = rng.normal(100, 30, size=(5, n))
        # per-row scalar reduce (the order ndarray.mean uses on contiguous data)
        want = np.asarray([np.add.reduce(row) for row in a])
        got = _sum_last_exact(a)
        assert (got == want).all(), n
