"""Baseline-JPEG codec pins (operators/jpeg.py, r18).

The container ships no independent JPEG codec, so the external
cross-check is decomposed (the module docstring's a/b/c/d plan):
coefficient-level encode→decode roundtrip fuzz, the IDCT against an
independent numpy direct-cosine-sum reference, DC-only closed forms,
and an optional Pillow comparison that goes live the moment the
environment ships PIL (env-skip ledger)."""

from __future__ import annotations

import math
import random
import re

import pytest

from amsterdam_map_data_wrangling_spark.operators.jpeg import (
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    ZIGZAG,
    _canonical_codes,
    _idct_block,
    _Q_ONES,
    decode_baseline_jpeg,
    encode_baseline_jpeg,
    extract_jpeg_pixels,
    synthesize_jpeg_payloads,
    ycbcr_to_rgb,
)


def _numpy_idct_reference(coeffs):
    """Independent IDCT: direct double sum over the T.81 A.3.3 formula
    via numpy einsum — a different code path from the operator's
    separable two-pass loop."""
    import numpy as np

    F = np.array(coeffs, dtype=np.float64).reshape(8, 8)
    C = np.array([1 / math.sqrt(2)] + [1.0] * 7)
    cos = np.array(
        [
            [math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
            for u in range(8)
        ]
    )
    # f(y, x) = 1/4 sum_u sum_v C(u) C(v) F(u, v) cos_u(y) cos_v(x)
    f = 0.25 * np.einsum(
        "u,v,uv,uy,vx->yx", C, C, F, cos, cos
    )
    out = np.floor(f + 128.0 + 0.5).astype(int)
    return np.clip(out, 0, 255).reshape(-1).tolist()


def test_idct_matches_independent_reference():
    rng = random.Random(7)
    for _ in range(200):
        nat = [0] * 64
        for _ in range(rng.randint(0, 12)):
            nat[rng.randint(0, 63)] = rng.randint(-1024, 1023)
        assert _idct_block(nat) == _numpy_idct_reference(nat)


def test_canonical_codes_are_prefix_free():
    for bits, vals in (
        (DC_LUMA_BITS, DC_LUMA_VALS),
        (AC_LUMA_BITS, AC_LUMA_VALS),
    ):
        codes = _canonical_codes(bits, vals)
        assert len(codes) == len(vals)
        seen = [(c, ln) for c, ln in codes.values()]
        assert len(set(seen)) == len(seen)
        for c1, l1 in seen:
            for c2, l2 in seen:
                if l1 < l2:
                    assert (c2 >> (l2 - l1)) != c1, "prefix violation"


def test_zigzag_is_a_permutation():
    assert sorted(r * 8 + c for r, c in ZIGZAG) == list(range(64))


def test_coefficient_roundtrip_fuzz_grayscale():
    """Huffman + RLE + zigzag + byte stuffing + restart markers are
    exact inverses at the coefficient level."""
    rng = random.Random(42)
    for trial in range(60):
        nbx, nby = rng.randint(1, 4), rng.randint(1, 3)
        blocks = []
        for _ in range(nbx * nby):
            blk = [0] * 64
            blk[0] = rng.randint(-1000, 1000)
            for _ in range(rng.randint(0, 25)):
                blk[rng.randint(1, 63)] = rng.randint(-255, 255)
            blocks.append(blk)
        dri = rng.choice([0, 1, 2, 3])
        p = encode_baseline_jpeg(
            nbx * 8, nby * 8, [blocks], [(1, 1)], [_Q_ONES],
            restart_interval=dri,
        )
        dec = decode_baseline_jpeg(p, coefficients_only=True)
        assert dec is not None, (trial, dri)
        assert dec[2][0] == blocks, (trial, dri)


def test_coefficient_roundtrip_fuzz_420_color():
    rng = random.Random(9)
    for trial in range(25):
        mx, my = rng.randint(1, 3), rng.randint(1, 2)
        yb = []
        for _ in range(mx * 2 * my * 2):
            blk = [0] * 64
            blk[0] = rng.randint(-500, 500)
            blk[rng.randint(1, 63)] = rng.randint(-100, 100)
            yb.append(blk)
        cbb = [[rng.randint(-300, 300)] + [0] * 63 for _ in range(mx * my)]
        crb = [[rng.randint(-300, 300)] + [0] * 63 for _ in range(mx * my)]
        p = encode_baseline_jpeg(
            mx * 16, my * 16, [yb, cbb, crb],
            [(2, 2), (1, 1), (1, 1)], [_Q_ONES, _Q_ONES],
            restart_interval=rng.choice([0, 1, 2]),
        )
        dec = decode_baseline_jpeg(p, coefficients_only=True)
        assert dec is not None, trial
        assert dec[2] == [yb, cbb, crb], trial


def test_full_pixel_decode_matches_independent_pipeline():
    """End-to-end: random AC-bearing coefficients → bitstream → decoded
    pixels must equal the independent numpy IDCT of the same
    coefficients (dequantized, de-zigzagged) — the pixel-level external
    cross-check, minus the codec nobody ships here."""
    rng = random.Random(1234)
    for _ in range(10):
        blocks = []
        for _ in range(2):
            blk = [0] * 64
            blk[0] = rng.randint(-400, 400)
            for _ in range(8):
                blk[rng.randint(1, 63)] = rng.randint(-60, 60)
            blocks.append(blk)
        q = [1 + rng.randint(0, 3) for _ in range(64)]
        p = encode_baseline_jpeg(16, 8, [blocks], [(1, 1)], [q])
        dec = decode_baseline_jpeg(p)
        assert dec is not None
        w, h, planes = dec
        assert (w, h) == (16, 8)
        expect = []
        for blk in blocks:
            nat = [0] * 64
            for k in range(64):
                r, c = ZIGZAG[k]
                nat[r * 8 + c] = blk[k] * q[k]
            expect.append(_numpy_idct_reference(nat))
        got = planes[0]
        for bx in range(2):
            for y in range(8):
                row = got[y * 16 + bx * 8 : y * 16 + bx * 8 + 8]
                assert row == expect[bx][y * 8 : y * 8 + 8]


def test_chroma_upsampling_replicates():
    """4:2:0 chroma at DC-only: each chroma value must cover a 2x2
    luma-resolution area after replication."""
    yb = [[0] + [0] * 63 for _ in range(4)]
    cbb = [[8 * (200 - 128)] + [0] * 63]
    crb = [[8 * (60 - 128)] + [0] * 63]
    p = encode_baseline_jpeg(
        16, 16, [yb, cbb, crb], [(2, 2), (1, 1), (1, 1)],
        [_Q_ONES, _Q_ONES],
    )
    dec = decode_baseline_jpeg(p)
    assert dec is not None
    w, h, planes = dec
    assert planes[1] == [200] * 256
    assert planes[2] == [60] * 256


def test_fail_safe_on_damage_and_unsupported():
    assert decode_baseline_jpeg(b"") is None
    assert decode_baseline_jpeg(b"\x89PNG\r\n") is None
    # progressive (SOF2) refused, not misdecoded
    assert decode_baseline_jpeg(b"\xff\xd8\xff\xc2\x00\x08\x08\x00\x10\x00\x10\x01") is None
    p = encode_baseline_jpeg(8, 8, [[[8] + [0] * 63]], [(1, 1)], [_Q_ONES])
    for cut in (4, len(p) // 3, len(p) // 2, len(p) - 3):
        assert decode_baseline_jpeg(p[:cut]) is None
    # single-byte corruption storm: decode either fails or returns a
    # well-shaped result — never raises
    rng = random.Random(5)
    for _ in range(200):
        i = rng.randrange(len(p))
        mutated = p[:i] + bytes([rng.randrange(256)]) + p[i + 1 :]
        dec = decode_baseline_jpeg(mutated)
        if dec is not None:
            w, h, planes = dec
            assert all(len(pl) == w * h for pl in planes)
            assert all(0 <= v <= 255 for pl in planes for v in pl)


def test_ycbcr_to_rgb_jfif_formula():
    assert ycbcr_to_rgb(128, 128, 128) == (128, 128, 128)
    assert ycbcr_to_rgb(255, 128, 128) == (255, 255, 255)
    assert ycbcr_to_rgb(0, 128, 128) == (0, 0, 0)
    # spec formula spot values, clamped
    y, cb, cr = 81, 90, 240
    r = max(0, min(255, math.floor(y + 1.402 * (cr - 128) + 0.5)))
    g = max(
        0,
        min(
            255,
            math.floor(
                y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
            ),
        ),
    )
    b = max(0, min(255, math.floor(y + 1.772 * (cb - 128) + 0.5)))
    assert ycbcr_to_rgb(y, cb, cr) == (r, g, b)


def test_pillow_cross_check_if_available():
    """The true external cross-check — live the moment the environment
    ships Pillow (env-skip ledger: counts as a skip until then)."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    for mid in (2, 7, 40, 255):
        if mid % 2 == 0:
            vals = [(mid * 7 + bx * 31) % 256 for bx in range(2)]
            blocks = [[8 * (v - 128)] + [0] * 63 for v in vals]
            p = encode_baseline_jpeg(
                16, 8, [blocks], [(1, 1)], [_Q_ONES], restart_interval=1
            )
        else:
            y, cb, cr = (mid * 5) % 256, (mid * 3) % 256, (mid * 11) % 256
            q2 = [2] + [1] * 63
            blocks = [[[8 * (v - 128) // 2] + [0] * 63] for v in (y, cb, cr)]
            p = encode_baseline_jpeg(8, 8, blocks, [(1, 1)] * 3, [q2, q2])
        img = PIL.open(io.BytesIO(p))
        img.load()
        dec = decode_baseline_jpeg(p)
        assert dec is not None
        w, h, planes = dec
        assert (img.width, img.height) == (w, h)
        if len(planes) == 1:
            ref = list(img.convert("L").getdata())
            assert ref == planes[0]


def test_spark_synthesize_and_extract(spark):
    """The Spark surface end-to-end at small scale: synthesized
    payloads decode to the closed-form stats (the same algebra the
    driver gate's DuckDB oracle replays)."""
    df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = synthesize_jpeg_payloads(df, "doc_id")
    rows = {
        (r.media_id, r.channel): r
        for r in extract_jpeg_pixels(media).collect()
    }
    for mid in range(12):
        if mid % 2 == 0:
            v0, v1 = (mid * 7) % 256, (mid * 7 + 31) % 256
            r = rows[(mid, 0)]
            assert r.n_pixels == 128
            assert r.sum_val == 64 * (v0 + v1)
            assert r.max_val == max(v0, v1)
            assert r.top_row_sum == 8 * (v0 + v1)
            assert (mid, 1) not in rows
        else:
            for ch, v in enumerate(
                ((mid * 5) % 256, (mid * 3) % 256, (mid * 11) % 256)
            ):
                r = rows[(mid, ch)]
                assert r.n_pixels == 64
                assert r.sum_val == 64 * v
                assert r.max_val == v
                assert r.top_row_sum == 8 * v


def test_bit_reader_accumulator_stays_bounded():
    """Self-review r18: the entropy bit-reader's accumulator must hold
    only unread bits — the unmasked version grew one byte per fill
    forever, turning a megabyte-scale entropy stream into an O(n^2)
    decode. Decode a many-block image and inspect the reader state via
    a probe subclass."""
    from amsterdam_map_data_wrangling_spark.operators import jpeg as J

    rng = random.Random(11)
    blocks = []
    for _ in range(16 * 8):  # 128x64 grayscale, dense AC
        blk = [0] * 64
        blk[0] = rng.randint(-500, 500)
        for _ in range(30):
            blk[rng.randint(1, 63)] = rng.randint(-200, 200)
        blocks.append(blk)
    p = encode_baseline_jpeg(128, 64, [blocks], [(1, 1)], [_Q_ONES])

    seen = []
    orig_fill = J._BitReader._fill

    def probed_fill(self):
        out = orig_fill(self)
        seen.append(self._acc.bit_length())
        return out

    J._BitReader._fill = probed_fill
    try:
        dec = decode_baseline_jpeg(p, coefficients_only=True)
    finally:
        J._BitReader._fill = orig_fill
    assert dec is not None and dec[2][0] == blocks
    assert seen and max(seen) <= 40, (
        f"accumulator grew to {max(seen)} bits — unread-bit masking lost"
    )


def test_jpeg_row_count_parallelism_window(spark, tmp_path):
    """r19: the JPEG kernel costs ~130 us/row of Python, so the plan
    inserts a rows-sized repartition when the input is under the
    loader's byte floor but has enough rows to amortize the exchange.
    Pin both regimes and the rows-based task sizing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    # small regime: sf0.01 (500 rows, < 2000) — no repartition
    plan_small = (
        QUERIES["jpeg_pixel_stats"]
        .build(spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RepartitionByExpression" not in plan_small

    # firing regime: sf0.1 (5000 rows, 0.6 MB < 4 MiB byte floor) —
    # hash repartition on doc_id, sized by the plan's stated rule
    # min(defaultParallelism, rows // 500): 10 tasks from 5000 rows,
    # capped by the cores on a host with fewer than 10
    plan_big = (
        QUERIES["jpeg_pixel_stats"]
        .build(spark, "/root/testdata/sf0.1")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    m = re.search(
        r"RepartitionByExpression \[doc_id#\d+L?\], (\d+)", plan_big
    )
    assert m, plan_big
    assert int(m.group(1)) == min(
        spark.sparkContext.defaultParallelism, 5000 // 500
    )

    # above the byte floor the loader already spread the scan: a
    # synthetic 3000-row doc table padded past 4 MiB must NOT get the
    # second exchange
    big_dir = tmp_path / "fat_sf"
    big_dir.mkdir()
    # unique per-row padding so parquet's dictionary/RLE cannot shrink
    # the file back under the floor
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(3000), type=pa.int64()),
                "text": pa.array(
                    [f"{i:07d}" * 300 for i in range(3000)]
                ),
                "source": pa.array(["s"] * 3000),
            }
        ),
        str(big_dir / "documents.parquet"),
        compression="none",
    )
    plan_fat = (
        QUERIES["jpeg_pixel_stats"]
        .build(spark, str(big_dir))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RepartitionByExpression [doc_id" not in plan_fat
