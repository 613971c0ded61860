"""Image difference hash + banded Hamming near-dup (operators/
multimodal.image_dhash / image_dhash_pairs).

Engine vs an independent per-image pure-Python oracle (nested loops,
no NumPy reduceat/broadcast tricks shared with the engine kernel):
exact-grid 9x8 images, area-mean resize from larger sizes, luma
weighting, planted near-dup pairs surviving banding + Hamming verify,
refusals (too small, corrupt, unknown mime, NULL bytes).
"""

import numpy as np

from ds2_spark.operators.multimodal import (
    _dhash_from_img,
    decode_ppm,
    image_dhash,
    image_dhash_pairs,
)


def ppm_p6(pix: np.ndarray) -> bytes:
    """uint8 [h, w] gray -> P6 bytes with R=G=B (luma weights sum to
    1000, so the gray value round-trips exactly)."""
    h, w = pix.shape
    rgb = np.repeat(pix.reshape(h, w, 1), 3, axis=2).astype(np.uint8)
    return f"P6\n{w} {h}\n255\n".encode() + rgb.tobytes()


def dhash_oracle(gray: "list[list[int]]") -> tuple:
    """Independent reimplementation: plain Python ints, explicit
    block loops."""
    h, w = len(gray), len(gray[0])
    g = [[0] * 9 for _ in range(8)]
    for r in range(8):
        for c in range(9):
            r0, r1 = (r * h) // 8, ((r + 1) * h) // 8
            c0, c1 = (c * w) // 9, ((c + 1) * w) // 9
            vals = [gray[i][j] for i in range(r0, r1) for j in range(c0, c1)]
            g[r][c] = sum(vals) // len(vals)
    bits = [1 if g[r][c] > g[r][c + 1] else 0 for r in range(8) for c in range(8)]
    hi = sum(b << (31 - k) for k, b in enumerate(bits[:32]))
    lo = sum(b << (31 - k) for k, b in enumerate(bits[32:]))
    return hi, lo


def _img(seed: int, h: int = 8, w: int = 9) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w)).astype(np.uint8)


def test_kernel_matches_oracle_exact_grid_and_resized():
    for seed, (h, w) in [(1, (8, 9)), (2, (16, 18)), (3, (33, 50)), (4, (8, 10))]:
        pix = _img(seed, h, w)
        img = np.repeat(pix.reshape(h, w, 1), 3, axis=2)
        got = _dhash_from_img(img)
        exp = dhash_oracle(pix.astype(int).tolist())
        assert got == exp, (seed, got, exp)


def test_luma_weighting_exact():
    # pure-channel images: luma = 299R//1000 etc.
    rgb = np.zeros((8, 9, 3), dtype=np.uint8)
    rgb[..., 0] = _img(7)
    got = _dhash_from_img(rgb)
    exp = dhash_oracle((rgb[..., 0].astype(int) * 299 // 1000).tolist())
    assert got == exp


def test_too_small_returns_none():
    assert _dhash_from_img(np.zeros((7, 9, 3), dtype=np.uint8)) is None
    assert _dhash_from_img(np.zeros((8, 8, 3), dtype=np.uint8)) is None


def _media_df(spark, rows):
    return spark.createDataFrame(
        rows, "media_id string, bytes binary, mime string"
    )


def test_spark_hash_and_refusals(spark):
    pix = _img(11)
    rows = [
        ("good", ppm_p6(pix), "image/x-portable-pixmap"),
        ("corrupt", b"P6 garbage", "image/x-portable-pixmap"),
        ("unknown", ppm_p6(pix), "image/svg+xml"),
        ("null", None, "image/x-portable-pixmap"),
        ("small", ppm_p6(_img(12, 4, 4)), "image/x-portable-pixmap"),
    ]
    out = {r["media_id"]: r for r in image_dhash(_media_df(spark, rows)).collect()}
    exp = dhash_oracle(pix.astype(int).tolist())
    assert out["good"]["decoded_ok"] is True
    assert (out["good"]["dhash_hi"], out["good"]["dhash_lo"]) == exp
    for mid in ("corrupt", "unknown", "null", "small"):
        assert out[mid]["decoded_ok"] is False, mid
        assert out[mid]["dhash_hi"] is None and out[mid]["dhash_lo"] is None


def test_neardup_pairs_planted(spark):
    base = _img(21, 16, 18)
    near = base.copy()
    near[0, 0] = np.clip(int(near[0, 0]) + 120, 0, 255)  # flips a few bits
    far = _img(22, 16, 18)
    rows = [
        ("a", ppm_p6(base), "image/x-portable-pixmap"),
        ("b", ppm_p6(near), "image/x-portable-pixmap"),
        ("c", ppm_p6(far), "image/x-portable-pixmap"),
    ]
    hashes = image_dhash(_media_df(spark, rows))
    pairs = image_dhash_pairs(hashes, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ("a", "b") in got
    ha = dhash_oracle(base.astype(int).tolist())
    hb = dhash_oracle(near.astype(int).tolist())
    exp_ham = bin(ha[0] ^ hb[0]).count("1") + bin(ha[1] ^ hb[1]).count("1")
    assert got[("a", "b")] == exp_ham
    assert ("a", "c") not in got and ("b", "c") not in got


def test_identical_images_hamming_zero(spark):
    img = ppm_p6(_img(31, 24, 27))
    rows = [("x", img, "image/x-portable-pixmap"), ("y", img, "image/x-portable-pixmap")]
    pairs = image_dhash_pairs(image_dhash(_media_df(spark, rows)), 0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_ppm_decode_roundtrip():
    pix = _img(41, 10, 12)
    img = decode_ppm(ppm_p6(pix))
    assert img.shape == (10, 12, 3)
    assert (img[..., 0] == pix).all()


def test_dhash_media_bytes_exact_past_int64_square(spark, tmp_path):
    """The q_image_dhash synthesis at doc_id ~ 2e7, where x*x*7 of the
    unreduced pixel argument x = pair*73 + k + 1 exceeds 2^63, equals
    the pixel formula evaluated in Python ints."""
    from ds2_spark.queries_catalog.synth import _dhash_media

    ids = [20_000_000, 20_000_001, 20_000_058, 123_456_789]
    spark.createDataFrame([(i,) for i in ids], "doc_id long").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    media = _dhash_media(spark, str(tmp_path)).collect()
    got = {r["doc_id"]: bytes(r["bytes"]) for r in media}
    for d in ids:
        x = [(d - d % 2) * 73 + k + 1 for k in range(72)]
        assert x[0] * x[0] * 7 >= 2**63
        pix = [
            (v * v * 7 + v * 13 + (97 if d % 2 == 1 and k % 29 == 0 else 0)) % 251
            for k, v in enumerate(x)
        ]
        assert got[d] == b"P6\n9 8\n255\n" + bytes(p for p in pix for _ in range(3))
