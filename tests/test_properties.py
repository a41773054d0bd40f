"""Hypothesis property tests for the pure-Python engine components
(SURVEY.md §5: property tests alongside the oracle harness).

These run without a SparkSession, so hypothesis can afford hundreds of
examples: manifest pruning soundness (a skipped file can never contain a
matching row) and canonicalization stability for the oracle comparator.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from apache_iceberg_demo_spark.sources.warehouse import Warehouse, _cmp_holds
from apache_iceberg_demo_spark.session import sized_shuffle_partitions
from tests.oracle_utils import _norm_cell, canonical

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@given(
    mn=finite,
    width=st.floats(min_value=0, max_value=1e6, allow_nan=False),
    value=finite,
    lit=finite,
    op=st.sampled_from(["<", "<=", ">", ">=", "=", "=="]),
)
@settings(max_examples=300, deadline=None)
def test_file_skip_is_sound(mn, width, value, lit, op):
    """If a value inside [mn, mx] satisfies the predicate, the file must NOT
    be skippable — pruning may only drop files that cannot match."""
    mx = mn + width
    value = min(max(value, mn), mx)  # clamp into the file's range
    holds = {
        "<": value < lit,
        "<=": value <= lit,
        ">": value > lit,
        ">=": value >= lit,
        "=": value == lit,
        "==": value == lit,
    }[op]
    entry = {"partition": {}, "stats": {"c": [mn, mx]}}
    if holds:
        assert not Warehouse._can_skip(entry, f"c {op} {lit}")


_INT64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(
    mn=_INT64,
    width=st.integers(min_value=0, max_value=2**20),
    offset=st.integers(min_value=0, max_value=2**20),
    delta=st.integers(min_value=-4, max_value=4),
    op=st.sampled_from(["<", "<=", ">", ">=", "=", "=="]),
)
@settings(max_examples=300, deadline=None)
def test_file_skip_is_sound_at_int64_magnitudes(mn, width, offset, delta, op):
    """The r14 2^53 regression class, generalized: for FULL-range int64
    stats/partition values and literals landing a few units around the
    file's range, a file containing a matching value must never skip.
    (The float property above is capped at 1e12 — below 2^53 — and could
    not catch the float-collapse wrong skip.)"""
    mx = mn + width if mn + width <= 2**63 - 1 else 2**63 - 1
    value = min(mn + offset, mx)
    lit = value + delta
    holds = {
        "<": value < lit, "<=": value <= lit, ">": value > lit,
        ">=": value >= lit, "=": value == lit, "==": value == lit,
    }[op]
    if not holds:
        return
    pred = f"c {op} {lit}"
    assert not Warehouse._can_skip(
        {"partition": {}, "stats": {"c": [mn, mx]}}, pred
    )
    # identity partition-value form: the file holds EXACTLY `value`
    assert not Warehouse._can_skip(
        {"partition": {"c": str(value)}, "stats": {}}, pred
    )


@given(
    kind=st.sampled_from(
        ["identity", "truncate", "bucket", "day", "month", "year"]
    ),
    seed=_INT64,
    delta=st.integers(min_value=-3, max_value=3),
    op=st.sampled_from(["<", "<=", ">", ">=", "="]),
    width=st.integers(min_value=1, max_value=64),
    pad_lo=st.integers(min_value=0, max_value=5),
    pad_hi=st.integers(min_value=0, max_value=5),
)
@settings(max_examples=400, deadline=None)
def test_prune_disjoint_is_sound_across_transforms(
    kind, seed, delta, op, width, pad_lo, pad_hi
):
    """Transform-prune soundness, full int64 magnitudes included: pick a
    SOURCE value satisfying ``c op lit``; its transformed value sits in
    the file's [lo, hi] (by construction) — prune_disjoint must never
    call that file disjoint. Covers identity/truncate/bucket on longs
    (2^53-adjacent included) and day/month/year on dates."""
    import datetime as _dt

    from apache_iceberg_demo_spark.sources import transforms as T

    if kind in ("day", "month", "year"):
        d = _dt.date(1970, 1, 1) + _dt.timedelta(days=seed % 60000 - 10000)
        lit_d = d + _dt.timedelta(days=delta)
        src_cmp, lit_cmp = d, lit_d
        src_lit, lit = d.isoformat(), lit_d.isoformat()
        tr = T.parse_spec(f"{kind}s(c)")
        ice = "date"
    else:
        if kind == "identity":
            tr = T.Transform("identity", "c", None, "c")
        elif kind == "truncate":
            tr = T.Transform("truncate", "c", width, "c_trunc")
        else:
            tr = T.Transform("bucket", "c", width, "c_bucket")
            op = "="  # bucket prunes equality only
            delta = 0
        src_cmp = lit_cmp = None
        src_lit = seed
        lit = seed + delta
        if not (-(2**63) <= lit <= 2**63 - 1):
            return
        src_cmp, lit_cmp = src_lit, lit
        ice = "long"
    holds = {
        "<": src_cmp < lit_cmp, "<=": src_cmp <= lit_cmp,
        ">": src_cmp > lit_cmp, ">=": src_cmp >= lit_cmp,
        "=": src_cmp == lit_cmp,
    }[op]
    if not holds:
        return
    tv = T.apply_py(tr, src_lit, ice)
    if tv is None or not isinstance(tv, int):
        return  # no transformed range to build — nothing to assert
    assert not T.prune_disjoint(
        tr, op, lit, tv - pad_lo, tv + pad_hi, ice
    ), (kind, src_lit, op, lit, tv)


@given(
    mn=finite,
    width=st.floats(min_value=0, max_value=1e6, allow_nan=False),
    lit=finite,
    op=st.sampled_from(["<", "<=", ">", ">=", "=", "=="]),
)
@settings(max_examples=300, deadline=None)
def test_cmp_holds_agrees_with_exhaustive_endpoints(mn, width, lit, op):
    """_cmp_holds must be true whenever either endpoint satisfies the op."""
    mx = mn + width
    for v in (mn, mx):
        sat = {"<": v < lit, "<=": v <= lit, ">": v > lit, ">=": v >= lit,
               "=": v == lit, "==": v == lit}[op]
        if sat:
            assert _cmp_holds(None, op, lit, mn, mx)
            return


@given(st.floats(allow_nan=True, allow_infinity=False))
@settings(max_examples=200, deadline=None)
def test_norm_cell_floats_stable(x):
    """Normalization is deterministic and NaN maps to the null token."""
    a, b = _norm_cell(x), _norm_cell(x)
    assert a == b
    if isinstance(x, float) and math.isnan(x):
        assert a == "<NULL>"


@given(
    rows=st.lists(
        st.tuples(st.integers(-1000, 1000), st.floats(allow_nan=False, allow_infinity=False, width=32)),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_canonical_is_order_insensitive(rows):
    cols = ["b", "a"]
    rev = list(reversed(rows))
    assert canonical(rows, cols) == canonical(rev, cols)


@given(st.integers(min_value=0, max_value=2**50), st.integers(min_value=1, max_value=512))
@settings(max_examples=200, deadline=None)
def test_shuffle_sizing_monotone_and_bounded(nbytes, cpus):
    p = sized_shuffle_partitions(nbytes, cpus)
    assert 8 <= p <= 200_000
    # more data never means fewer partitions
    assert sized_shuffle_partitions(nbytes * 2, cpus) >= p


# --- CDC gear-chunking properties (hypothesis over random blobs) -------------

from hypothesis import given, settings, strategies as st

from apache_iceberg_demo_spark.operators.multimodal import (
    CDC_MAX,
    CDC_MIN,
    gear_chunks,
)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_cdc_chunks_reassemble_exactly(data):
    chunks = gear_chunks(data)
    assert chunks, "even the empty blob yields one (empty) chunk"
    pos = 0
    for off, length, _h in chunks:
        assert off == pos
        pos += length
    assert pos == len(data)
    for off, length, _h in chunks[:-1]:
        assert CDC_MIN <= length <= CDC_MAX


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_cdc_deterministic(data):
    assert gear_chunks(data) == gear_chunks(bytes(data))


@settings(max_examples=40, deadline=None)
@given(
    st.binary(min_size=600, max_size=2000),
    st.data(),
)
def test_cdc_insert_prefix_determinism(data, draw):
    """Chunks ENTIRELY before an insert are guaranteed to survive it: their
    boundaries derive from hash windows and chunk starts wholly inside the
    unchanged prefix. (Suffix re-sync is probabilistic — a >MAX_C run with
    no natural boundary cascades forced cuts, so it is asserted on the real
    corpus inside the registered op, not as a universal property.)"""
    pos = draw.draw(st.integers(min_value=0, max_value=len(data)))
    mutated = data[:pos] + b"\x00INSERT\xff" + data[pos:]
    mut_hashes = {h for _o, _l, h in gear_chunks(mutated)}
    orig = gear_chunks(data)
    # the FINAL chunk ends by tail-flush, not a content boundary — an insert
    # at/after its start legitimately extends it, so it carries no guarantee
    prefix = [h for o, l, h in orig[:-1] if o + l <= pos]
    missing = [h for h in prefix if h not in mut_hashes]
    assert not missing, f"{len(missing)}/{len(prefix)} prefix chunks lost"


@given(
    values=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6),
        min_size=0,
        max_size=120,
    ),
    draw=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_ewma_fold_is_chunk_invariant(values, draw):
    """Folding a sequence in ARBITRARY chunks with carried state must equal
    folding it in one pass — the property that makes micro-batch boundaries
    invisible to b9_stateful_ewma_anomaly."""
    from apache_iceberg_demo_spark.streaming.windows import ewma_fold_rows

    rows = [("k", i, v) for i, v in enumerate(values)]
    one_out, one_state = ewma_fold_rows(rows, (0.0, 0.0, 0))

    chunked_out, st = [], (0.0, 0.0, 0)
    i = 0
    while i < len(rows):
        size = draw.draw(st_integers_1_10)
        chunk, st = ewma_fold_rows(rows[i : i + size], st)
        chunked_out.extend(chunk)
        i += size
    assert chunked_out == one_out
    assert st == one_state


st_integers_1_10 = st.integers(min_value=1, max_value=10)


@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=100), min_size=1, max_size=60
    ),
    prices=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_weighted_median_crossing_identity(weights, prices):
    """The cumulative-weight crossing value (b4_weighted_median's plan)
    equals the brute-force weighted median by expansion."""
    vals = [
        prices.draw(st.integers(min_value=0, max_value=500)) for _ in weights
    ]
    pairs = sorted(zip(vals, weights))
    tw = sum(w for _, w in pairs)
    cw, crossing = 0, None
    for v, w in pairs:
        cw += w
        if cw >= tw / 2:
            crossing = v
            break
    expanded = sorted(v for v, w in pairs for _ in range(w))
    idx = (len(expanded) + 1) // 2 - 1  # first position with cum >= half
    assert crossing == expanded[idx]


@given(
    mn=finite,
    width=st.floats(min_value=0, max_value=1e6, allow_nan=False),
    value=finite,
    lo=finite,
    span=st.floats(min_value=0, max_value=1e6, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_file_skip_between_is_sound(mn, width, value, lo, span):
    """BETWEEN fast path: if any value inside [mn, mx] lies in [lo, hi],
    the file must NOT be skippable."""
    mx = mn + width
    hi = lo + span
    value = min(max(value, mn), mx)
    entry = {"partition": {}, "stats": {"c": [mn, mx]}}
    if lo <= value <= hi:
        assert not Warehouse._can_skip(entry, f"c BETWEEN {lo} AND {hi}")


@given(
    mn=finite,
    width=st.floats(min_value=0, max_value=1e6, allow_nan=False),
    value=finite,
    lit1=finite,
    lit2=finite,
    op1=st.sampled_from(["<", "<=", ">", ">=", "=", "=="]),
    op2=st.sampled_from(["<", "<=", ">", ">=", "=", "=="]),
)
@settings(max_examples=300, deadline=None)
def test_file_skip_conjunction_is_sound(mn, width, value, lit1, lit2, op1, op2):
    """AND fast path: if one value inside [mn, mx] satisfies BOTH
    conjuncts, the file must NOT be skippable."""
    mx = mn + width
    value = min(max(value, mn), mx)

    def holds(op, lit):
        return {
            "<": value < lit,
            "<=": value <= lit,
            ">": value > lit,
            ">=": value >= lit,
            "=": value == lit,
            "==": value == lit,
        }[op]

    entry = {"partition": {}, "stats": {"c": [mn, mx]}}
    if holds(op1, lit1) and holds(op2, lit2):
        assert not Warehouse._can_skip(
            entry, f"c {op1} {lit1} AND c {op2} {lit2}"
        )


# ---------------------------------------------------------------------------
# Real WAV/BMP codec kernels (operators/multimodal.py) — pure functions, so
# hypothesis can sweep doc_ids and corruption cases without a SparkSession.


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=200, deadline=None)
def test_wav_roundtrip_recovers_signal(doc_id):
    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import (
        wav_pcm_decode,
        wav_pcm_encode,
    )

    sr, x = wav_pcm_decode(wav_pcm_encode(doc_id))
    assert sr == 8000 and len(x) == 800
    assert float(np.max(np.abs(x))) <= 1.0
    amp = 0.25 + (doc_id % 4) * 0.15
    rms = float(np.sqrt(np.mean(x * x)))
    assert abs(rms * 2.0**0.5 - amp) <= 1e-3
    # leakage-free dominant bin == encoded frequency, exactly
    dom = (int(np.argmax(np.abs(np.fft.rfft(x))[1:])) + 1) * sr / len(x)
    assert dom == 200 + (doc_id % 8) * 100


def test_wav_decode_rejects_corruption_and_walks_extra_chunks():
    import struct

    import pytest

    from apache_iceberg_demo_spark.operators.multimodal import (
        wav_pcm_decode,
        wav_pcm_encode,
    )

    blob = wav_pcm_encode(7)
    with pytest.raises(ValueError):
        wav_pcm_decode(b"JUNK" + blob[4:])
    # splice an unknown (odd-sized, word-aligned) chunk before fmt/data:
    # a correct chunk walk skips it and still finds both
    extra = b"LIST" + struct.pack("<I", 5) + b"xxxxx" + b"\0"
    spliced = blob[:12] + extra + blob[12:]
    sr, x = wav_pcm_decode(spliced)
    assert sr == 8000 and len(x) == 800


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=200, deadline=None)
def test_bmp_roundtrip_undoes_stride_and_row_order(doc_id):
    from apache_iceberg_demo_spark.operators.multimodal import (
        bmp24_decode,
        bmp24_encode,
    )

    arr = bmp24_decode(bmp24_encode(doc_id))
    w, h = 4 + doc_id % 5, 3 + doc_id % 3
    assert arr.shape == (h, w, 3)
    # row 0 must be the TOP row (stored LAST in the bottom-up file)
    assert tuple(arr[0, 0]) == (
        (3 * doc_id) % 251,
        (11 * doc_id) % 251,
        (17 * doc_id) % 251,
    )
    # body rows are the solid body color on every pixel (stride pad bytes
    # must not bleed into decoded pixels at any width 4..8)
    assert (arr[1:] == [doc_id % 251, (7 * doc_id) % 251, (13 * doc_id) % 251]).all()


def test_bmp_decode_rejects_unsupported_variants():
    import pytest

    from apache_iceberg_demo_spark.operators.multimodal import (
        bmp24_decode,
        bmp24_encode,
    )

    blob = bmp24_encode(3)
    with pytest.raises(ValueError):
        bmp24_decode(b"XX" + blob[2:])
    # 8-bpp claim must be refused, not mis-parsed
    bad_bpp = blob[:28] + b"\x08\x00" + blob[30:]
    with pytest.raises(ValueError):
        bmp24_decode(bad_bpp)


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=200, deadline=None)
def test_png_roundtrip_inverts_all_five_filters(doc_id):
    from apache_iceberg_demo_spark.operators.multimodal import (
        png_rgb8_decode,
        png_rgb8_encode,
    )

    arr = png_rgb8_decode(png_rgb8_encode(doc_id))
    w, h = 4 + doc_id % 5, 3 + doc_id % 3
    assert arr.shape == (h, w, 3)
    # every pixel of the linear-gradient fixture, exactly (scanline y is
    # forward-filtered with type y % 5 — any wrong inverse filter, stride
    # slip, or dropped IDAT byte corrupts some pixel)
    for y in range(h):
        for x in range(w):
            assert tuple(arr[y, x]) == (
                doc_id % 200 + x + 2 * y,
                (7 * doc_id) % 200 + 2 * x + y,
                (13 * doc_id) % 200 + 3 * x + 3 * y,
            ), (doc_id, x, y)


def test_png_decode_verifies_crc_and_rejects_corruption():
    import pytest

    from apache_iceberg_demo_spark.operators.multimodal import (
        png_rgb8_decode,
        png_rgb8_encode,
    )

    blob = png_rgb8_encode(7)
    with pytest.raises(ValueError, match="not a PNG"):
        png_rgb8_decode(b"JUNK" + blob[4:])
    # flip one byte inside the first IDAT body: the per-chunk CRC check
    # must catch it (a decoder that skips CRC would inflate garbage or
    # "succeed" with wrong pixels)
    idat_at = blob.index(b"IDAT")
    corrupt = bytearray(blob)
    corrupt[idat_at + 4] ^= 0xFF
    with pytest.raises(ValueError, match="bad CRC"):
        png_rgb8_decode(bytes(corrupt))
    # truncating the second IDAT chunk entirely (drop from its length
    # field) leaves a well-CRC'd but incomplete stream → loud failure
    second_idat = blob.index(b"IDAT", idat_at + 4)
    with pytest.raises(Exception):
        png_rgb8_decode(blob[: second_idat - 4] + blob[blob.index(b"IEND") - 4 :])


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=200, deadline=None)
def test_avi_roundtrip_recovers_every_frame(doc_id):
    from apache_iceberg_demo_spark.operators.multimodal import (
        avi_rgb24_decode,
        avi_rgb24_encode,
    )

    fps, frames = avi_rgb24_decode(avi_rgb24_encode(doc_id))
    w, h = 4 + doc_id % 5, 3 + doc_id % 3
    assert fps == 10 + doc_id % 5
    assert len(frames) == 3 + doc_id % 4
    for f, fr in enumerate(frames):
        assert fr.shape == (h, w, 3)
        # row 0 must be the TOP row of THIS frame (bottom-up undo must not
        # mix rows across frames); stride pad must not bleed at any width
        assert tuple(fr[0, 0]) == (
            (3 * doc_id + 5 * f) % 251,
            (11 * doc_id + 7 * f) % 251,
            (17 * doc_id + 19 * f) % 251,
        )
        assert (
            fr[1:]
            == [
                (doc_id + 29 * f) % 251,
                (7 * doc_id + 11 * f) % 251,
                (13 * doc_id + 17 * f) % 251,
            ]
        ).all()


def test_avi_decode_validates_headers_and_frame_count():
    import struct

    import pytest

    from apache_iceberg_demo_spark.operators.multimodal import (
        avi_rgb24_decode,
        avi_rgb24_encode,
    )

    blob = avi_rgb24_encode(11)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        avi_rgb24_decode(b"RIFX" + blob[4:])
    # drop the LAST movi frame chunk but leave headers claiming n frames:
    # the header cross-check must refuse (a sampler that trusts the movi
    # walk alone would silently return fewer frames)
    movi_at = blob.index(b"movi")
    first_frame_at = blob.index(b"00db", movi_at)
    fsize = struct.unpack("<I", blob[first_frame_at + 4 : first_frame_at + 8])[0]
    step = 8 + fsize + (fsize & 1)
    n = 3 + 11 % 4
    last_frame_at = first_frame_at + (n - 1) * step
    truncated = blob[:last_frame_at] + blob[last_frame_at + step :]
    # fix up the two RIFF LIST sizes that contain the removed chunk
    t = bytearray(truncated)
    t[4:8] = struct.pack("<I", struct.unpack("<I", t[4:8])[0] - step)
    t[movi_at - 4 : movi_at] = struct.pack(
        "<I", struct.unpack("<I", t[movi_at - 4 : movi_at])[0] - step
    )
    with pytest.raises(ValueError, match="frame count"):
        avi_rgb24_decode(bytes(t))
    # a 'vids' stream claiming 8 bpp must be refused, not mis-parsed
    strf_at = blob.index(b"strf")
    bad = bytearray(blob)
    bad[strf_at + 8 + 14 : strf_at + 8 + 16] = struct.pack("<H", 8)
    with pytest.raises(ValueError, match="unsupported AVI"):
        avi_rgb24_decode(bytes(bad))


@given(doc_id=st.integers(min_value=0, max_value=10_000_000))
@settings(max_examples=100, deadline=None)
def test_jpeg_constant_mcu_roundtrip_is_exact(doc_id):
    """A constant 8x8 block has an integer DC and zero ACs, so with the
    flat quantization table the whole baseline pipeline (DCT → quantize →
    zigzag → huffman+stuffing → huffman decode → dequant → IDCT) must
    roundtrip EXACTLY — the property the closed-form oracle of
    c4_jpeg_baseline_decode relies on. DC prediction chains across the
    full MCU sequence, so one slip anywhere corrupts later MCUs too."""
    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import (
        jpeg_baseline_decode,
        jpeg_baseline_encode,
    )

    wm, hm = 2 + doc_id % 3, 2 + doc_id % 2
    w, h = wm * 8, hm * 8
    y = np.zeros((h, w), dtype=np.uint8)
    cb = np.zeros_like(y)
    cr = np.zeros_like(y)
    for k in range(wm * hm):
        my, mx = divmod(k, wm)
        sl = (slice(my * 8, my * 8 + 8), slice(mx * 8, mx * 8 + 8))
        y[sl] = 30 + (doc_id + 7 * k) % 200
        cb[sl] = 28 + (5 * doc_id + 11 * k) % 200
        cr[sl] = 28 + (3 * doc_id + 13 * k) % 200
    rgb, (yd, cbd, crd) = jpeg_baseline_decode(jpeg_baseline_encode(y, cb, cr))
    assert rgb.shape == (h, w, 3)
    assert (yd == y).all() and (cbd == cb).all() and (crd == cr).all()
    # and the RGB conversion matches the engine-proof closed form
    k = wm * hm - 1
    my, mx = divmod(k, wm)
    Y, Cb, Cr = int(y[my * 8, mx * 8]), int(cb[my * 8, mx * 8]), int(cr[my * 8, mx * 8])
    exp_r = min(255, max(0, int(np.floor(Y + 1.402 * (Cr - 128) + 0.5))))
    exp_b = min(255, max(0, int(np.floor(Y + 1.772 * (Cb - 128) + 0.5))))
    assert rgb[my * 8 + 3, mx * 8 + 3, 0] == exp_r
    assert rgb[my * 8 + 3, mx * 8 + 3, 2] == exp_b


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=50, deadline=None)
def test_jpeg_random_content_roundtrip_near_lossless(seed):
    """Dense random planes force the FULL AC path — run-length coding, ZRL
    for 16+ zero runs, EOB, category/extend bits, IDCT of dense blocks.
    With the flat quantization table the only loss is DCT-coefficient
    rounding: every decoded plane must stay within 2 of the original."""
    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import (
        jpeg_baseline_decode,
        jpeg_baseline_encode,
    )

    rng = np.random.default_rng(seed)
    w = h = 16
    planes = [rng.integers(0, 256, (h, w)).astype(np.uint8) for _ in range(3)]
    _rgb, decoded = jpeg_baseline_decode(jpeg_baseline_encode(*planes))
    for orig, got in zip(planes, decoded):
        assert np.abs(orig.astype(int) - got.astype(int)).max() <= 2


def test_jpeg_decode_validates_stream():
    import numpy as np
    import pytest

    from apache_iceberg_demo_spark.operators.multimodal import (
        jpeg_baseline_decode,
        jpeg_baseline_encode,
    )

    y = np.full((8, 8), 99, np.uint8)
    blob = jpeg_baseline_encode(y, y, y)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_baseline_decode(b"\x00\x00" + blob[2:])
    # progressive SOF2 must be refused, not mis-parsed as baseline
    sof_at = blob.index(b"\xff\xc0")
    prog = blob[:sof_at] + b"\xff\xc2" + blob[sof_at + 2 :]
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg_baseline_decode(prog)
    # truncating the entropy stream must fail loudly, not return pixels
    with pytest.raises(ValueError):
        jpeg_baseline_decode(blob[: blob.rindex(b"\xff\xd9") - 3] + b"\xff\xd9")


# --- independent byte-level fixtures (hand-assembled in the test, never
# through the package's encoders) — pins the decoders to the FILE FORMATS,
# not to our own encode conventions ---


def test_wav_decode_hand_assembled_bytes():
    import struct

    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import wav_pcm_decode

    samples = [0, 16384, -16384, 32767]
    data = struct.pack("<4h", *samples)
    # deliberately include an unknown chunk with an ODD size before data —
    # the parser must word-align past it (RIFF padding rule)
    junk = b"JUNK" + struct.pack("<I", 3) + b"xyz" + b"\x00"
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 11025, 11025 * 2, 2, 16
    )
    body = b"WAVE" + fmt + junk + b"data" + struct.pack("<I", len(data)) + data
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    sr, out = wav_pcm_decode(blob)
    assert sr == 11025
    np.testing.assert_allclose(out, np.array(samples) / 32767.0, atol=1e-12)


def test_wav_decode_rejects_stereo_and_nonpcm():
    import struct

    import pytest as _pytest

    from apache_iceberg_demo_spark.operators.multimodal import wav_pcm_decode

    def make(fmt_code, channels):
        fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
            "<HHIIHH", fmt_code, channels, 8000, 8000 * 2 * channels, 2, 16
        )
        data = b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
        body = b"WAVE" + fmt + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with _pytest.raises(ValueError):
        wav_pcm_decode(make(3, 1))  # IEEE float, not PCM
    with _pytest.raises(ValueError):
        wav_pcm_decode(make(1, 2))  # stereo unsupported


def test_bmp_decode_hand_assembled_bytes():
    import struct

    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import bmp24_decode

    # 2x2, 24bpp: stride = 8 (2 pad bytes per row). Stored BOTTOM-UP:
    # file row 0 is the image's bottom row.
    bottom = bytes([10, 20, 30, 40, 50, 60]) + b"\x00\x00"  # pixels (B,G,R)
    top = bytes([70, 80, 90, 100, 110, 120]) + b"\x00\x00"
    pixel_array = bottom + top
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_array), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixel_array), 0, 0, 54)
    arr = bmp24_decode(header + dib + pixel_array)
    assert arr.shape == (2, 2, 3)
    # decoder undoes the bottom-up order: row 0 of the result is the TOP row
    np.testing.assert_array_equal(arr[0, 0], np.array([70, 80, 90], dtype=np.uint8))
    np.testing.assert_array_equal(arr[0, 1], np.array([100, 110, 120], dtype=np.uint8))
    np.testing.assert_array_equal(arr[1, 0], np.array([10, 20, 30], dtype=np.uint8))
    np.testing.assert_array_equal(arr[1, 1], np.array([40, 50, 60], dtype=np.uint8))


def test_png_decode_hand_assembled_bytes():
    import struct
    import zlib

    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import png_rgb8_decode

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    # 2x2 RGB8: row 0 filter None, row 1 filter Up (RFC 2083 §6.5)
    top = [(1, 2, 3), (250, 251, 252)]
    bot = [(11, 22, 33), (44, 55, 66)]
    raw_row0 = b"\x00" + bytes(v for px in top for v in px)
    up_deltas = bytes(
        (bot[i][c] - top[i][c]) % 256 for i in range(2) for c in range(3)
    )
    raw = raw_row0 + b"\x02" + up_deltas
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    # split the zlib stream across two IDAT chunks (the spec allows any split)
    z = zlib.compress(raw)
    idat = chunk(b"IDAT", z[:5]) + chunk(b"IDAT", z[5:])
    blob = b"\x89PNG\r\n\x1a\n" + ihdr + idat + chunk(b"IEND", b"")
    arr = png_rgb8_decode(blob)
    assert arr.shape == (2, 2, 3)
    np.testing.assert_array_equal(arr[0], np.array(top, dtype=np.uint8))
    np.testing.assert_array_equal(arr[1], np.array(bot, dtype=np.uint8))


def test_avi_decode_hand_assembled_bytes():
    import struct

    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import avi_rgb24_decode

    def chunk(cid, data):
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(ltype, payload):
        return b"LIST" + struct.pack("<I", 4 + len(payload)) + ltype + payload

    w, h, n_frames, rate, scale = 2, 1, 2, 24, 2
    stride = (3 * w + 3) // 4 * 4  # 8: two pad bytes per row
    avih = chunk(
        b"avih",
        struct.pack("<IIIIIIIIII", 1_000_000 * scale // rate, 0, 0, 0, n_frames, 0, 1, 0, w, h),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"DIB " + struct.pack("<IHHIIIII", 0, 0, 0, 0, scale, rate, 0, n_frames),
    )
    strf = chunk(b"strf", struct.pack("<IiiHHI", 40, w, h, 1, 24, 0) + b"\x00" * 20)
    frames_px = [bytes([5, 6, 7, 8, 9, 10]), bytes([200, 201, 202, 203, 204, 205])]
    movi = lst(b"movi", b"".join(chunk(b"00db", px + b"\x00\x00") for px in frames_px))
    body = b"AVI " + lst(b"hdrl", avih + lst(b"strl", strh + strf)) + movi
    blob = b"RIFF" + struct.pack("<I", len(body)) + body

    fps, frames = avi_rgb24_decode(blob)
    assert fps == rate / scale == 12.0
    assert len(frames) == n_frames
    for got, px in zip(frames, frames_px):
        assert got.shape == (1, 2, 3)
        np.testing.assert_array_equal(got.reshape(-1), np.frombuffer(px, np.uint8))


def test_jpeg_decode_hand_assembled_bytes():
    """A fully hand-written baseline JPEG: our OWN huffman spec (3 DC
    categories + a bare EOB table, different from the package encoder's
    canonical tables), DC-only coefficients, flat qtable of 1s. Expected
    pixels computed from the JPEG math directly: DC-only IDCT gives
    F00/8 + 128, then BT.601 YCbCr->RGB with floor(x+0.5):
    Y DC 40 -> 133; Cb DC -80 -> 118; Cr DC 0 -> 128
    => R 133, G floor(133 + 0.344136*10 + .5) = 136, B floor(133 - 17.72 + .5) = 115."""
    import struct

    import numpy as np

    from apache_iceberg_demo_spark.operators.multimodal import jpeg_baseline_decode

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    dqt = seg(0xDB, b"\x00" + bytes([1] * 64))
    dc_bits = bytes([0, 3] + [0] * 14)      # three length-2 codes
    dc_vals = bytes([0x00, 0x06, 0x07])      # cats 0, 6, 7 -> 00, 01, 10
    ac_bits = bytes([0, 1] + [0] * 14)       # one length-2 code
    ac_vals = bytes([0x00])                  # EOB -> 00
    dht = seg(0xC4, b"\x00" + dc_bits + dc_vals + b"\x10" + ac_bits + ac_vals)
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, 8, 8, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    # bitstream: Y(DC cat6 '01' + 40='101000' + EOB '00')
    #            Cb(DC cat7 '10' + (-80 -> 47)='0101111' + EOB '00')
    #            Cr(DC cat0 '00' + EOB '00'), padded with 1s
    entropy = bytes([0b01101000, 0b00100101, 0b11100000, 0b01111111])
    blob = b"\xff\xd8" + dqt + dht + sof + sos + entropy + b"\xff\xd9"

    rgb, (y, cb, cr) = jpeg_baseline_decode(blob)
    assert rgb.shape == (8, 8, 3)
    np.testing.assert_array_equal(np.unique(rgb[:, :, 0]), [133])
    np.testing.assert_array_equal(np.unique(rgb[:, :, 1]), [136])
    np.testing.assert_array_equal(np.unique(rgb[:, :, 2]), [115])


# ------------------------- hidden-partitioning prune soundness (r12)

_OPS = ["<", "<=", ">", ">=", "=", "=="]


def _holds(v, op, lit) -> bool:
    return {
        "<": v < lit, "<=": v <= lit, ">": v > lit, ">=": v >= lit,
        "=": v == lit, "==": v == lit,
    }[op]


@given(
    days=st.integers(min_value=-30000, max_value=30000),
    lit_days=st.integers(min_value=-30000, max_value=30000),
    op=st.sampled_from(_OPS),
)
@settings(max_examples=300, deadline=None)
def test_day_transform_prune_is_sound(days, lit_days, op):
    """If a stored date satisfies `c op lit`, the file whose day-space
    partition value holds that date must NOT be pruned."""
    import datetime

    from apache_iceberg_demo_spark.sources.transforms import (
        parse_spec,
        prune_disjoint,
    )

    epoch = datetime.date(1970, 1, 1)
    v = epoch + datetime.timedelta(days=days)
    lit = (epoch + datetime.timedelta(days=lit_days)).isoformat()
    if _holds(v.isoformat(), op, lit):  # ISO order == chronological
        tr = parse_spec("days(ts)")
        assert not prune_disjoint(tr, op, lit, days, days, "timestamptz")


@given(
    v=st.integers(min_value=-(2**62), max_value=2**62),
    lit=st.integers(min_value=-(2**62), max_value=2**62),
    w=st.integers(min_value=1, max_value=1000),
    op=st.sampled_from(_OPS),
    quoted=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_truncate_int_prune_is_sound(v, lit, w, op, quoted):
    """Truncate-on-int: a satisfying stored value is never pruned, whether
    the literal arrives numeric or quoted (the r12 review exploit)."""
    from apache_iceberg_demo_spark.sources.transforms import (
        parse_spec,
        prune_disjoint,
    )

    if _holds(v, op, lit):
        tr = parse_spec(f"truncate({w}, k)")
        tv = v - (v % w)
        # quoted literals parse exactly; unquoted arrive as float64 and
        # must never prune once past 2^53 (the parser can't see the true
        # int) — both paths must stay sound with no caller-side guard
        lit_in = str(lit) if quoted else float(lit)
        assert not prune_disjoint(tr, op, lit_in, tv, tv, "integer")


@given(
    s=st.text(alphabet=st.characters(codec="utf-8", exclude_characters="'"), max_size=20),
    lit=st.text(alphabet=st.characters(codec="utf-8", exclude_characters="'"), max_size=20),
    w=st.integers(min_value=1, max_value=8),
    op=st.sampled_from(_OPS),
)
@settings(max_examples=300, deadline=None)
def test_truncate_string_prune_is_sound(s, lit, w, op):
    from apache_iceberg_demo_spark.sources.transforms import (
        parse_spec,
        prune_disjoint,
    )

    if _holds(s, op, lit):
        tr = parse_spec(f"truncate({w}, c)")
        tv = s[:w]
        assert not prune_disjoint(tr, op, lit, tv, tv, "string")


@given(
    v=st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(alphabet=st.characters(codec="ascii", exclude_characters="'"), max_size=12),
    ),
    n=st.integers(min_value=1, max_value=64),
    quoted=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_bucket_equality_prune_is_sound(v, n, quoted):
    """bucket[N]: a file holding the key's own bucket is never pruned by
    an equality literal in ANY spelling (int, float, quoted string)."""
    from apache_iceberg_demo_spark.sources.transforms import (
        bucket_value,
        parse_spec,
        prune_disjoint,
    )

    tr = parse_spec(f"bucket({n}, k)")
    b = bucket_value(v, n)
    if b is None:
        return
    if isinstance(v, int):
        src = "long"
        lit: object = str(v) if quoted else float(v)
    else:
        src = "string"
        lit = v
    assert not prune_disjoint(tr, "=", lit, b, b, src)


@given(
    inner=st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="'\x00"),
        max_size=30,
    ),
    col=st.sampled_from(["k", "o_orderkey", "note"]),
)
@settings(max_examples=200, deadline=None)
def test_conjunct_parser_never_fabricates_from_literals(inner, col):
    """No text INSIDE a quoted literal may produce a conjunct on another
    column (the r12 review injection): every parsed conjunct's literal
    must be a substring the predicate actually quotes, and the only
    column mentioned outside quotes is the real one."""
    from apache_iceberg_demo_spark.sources.transforms import simple_conjuncts

    where = f"{col} = '{inner}'"
    out = simple_conjuncts(where)
    if out == []:
        return  # OR inside the literal is masked, so this is parseable;
        # [] only when the regex rejects (conservative, fine)
    assert out == [(col, "=", inner)]


@given(
    terms=st.lists(
        st.sampled_from(
            [
                "days(ts)", "months(ts)", "years(ts)", "hours(ts)",
                "bucket(16, user_id)", "bucket(4, k)", "truncate(10, k)",
                "truncate(3, name)", "plain_col", "other_col",
            ]
        ),
        min_size=1,
        max_size=4,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_spec_list_split_matches_per_term_parse(terms):
    """parse_spec_list over a comma-joined multi-term spec equals the
    concatenation of parse_spec per term — the nested comma inside
    bucket()/truncate() is never a top-level separator — unless two
    terms collide on a derived column name, which must raise."""
    from apache_iceberg_demo_spark.sources.transforms import (
        parse_spec,
        parse_spec_list,
        split_spec_terms,
    )

    joined = ", ".join(terms)
    assert split_spec_terms(joined) == terms
    per_term = [parse_spec(t) for t in terms]
    derived = [t.derived for t in per_term]
    if len(set(derived)) != len(derived):
        with pytest.raises(ValueError):
            parse_spec_list(joined)
        return
    assert parse_spec_list(joined) == per_term
    assert parse_spec_list(list(terms)) == per_term


@given(
    raws=st.lists(
        st.sampled_from(["1.2.3", "-", "7", "-3.5", "..", "1-2"]),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=100, deadline=None)
def test_malformed_numeric_literals_drop_not_crash(raws):
    """ADVICE r12: a malformed numeric literal matching [-0-9.]+ drops
    its conjunct; well-formed neighbours still parse."""
    from apache_iceberg_demo_spark.sources.transforms import simple_conjuncts

    where = " AND ".join(f"c{i} = {r}" for i, r in enumerate(raws))
    out = simple_conjuncts(where)  # must not raise
    expect = []
    for i, r in enumerate(raws):
        try:
            expect.append((f"c{i}", "=", float(r)))
        except ValueError:
            pass
    assert out == expect


@given(
    day_off=st.integers(min_value=0, max_value=364),
    key=st.integers(min_value=0, max_value=10_000),
    lit_day=st.integers(min_value=-10, max_value=374),
    lit_key=st.integers(min_value=0, max_value=10_000),
    op=st.sampled_from(["=", ">=", "<=", ">", "<"]),
)
@settings(max_examples=300, deadline=None)
def test_multi_field_transform_prune_is_sound(day_off, key, lit_day, lit_key, op):
    """Multi-field native pruning soundness: a file whose row matches
    BOTH conjuncts (a date inequality through days() and a key equality
    through bucket(4)) is NEVER pruned — any field's false-disjointness
    would silently drop the row."""
    import datetime
    import json as _json

    from apache_iceberg_demo_spark.sources.transforms import bucket_value
    from apache_iceberg_demo_spark.sources.warehouse import Warehouse

    epoch = datetime.date(1970, 1, 1)
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=day_off)
    lit_d = datetime.date(1995, 1, 1) + datetime.timedelta(days=lit_day)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "ts", "type": "date", "nullable": True, "metadata": {}},
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            # the derived partition columns, as create_or_replace records
            {"name": "ts_days", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "k_bucket", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    }
    meta = {
        "partition_spec": "days(ts), bucket(4, k)",
        "schema": _json.dumps(schema),
    }
    snap = {
        "schema": _json.dumps(schema),
        "fids": {"ts": 1, "k": 2, "ts_days": 3, "k_bucket": 4},
    }
    f = {
        "partition": {
            "ts_days": d.isoformat(),
            "k_bucket": str(bucket_value(key, 4)),
        },
        "stats": {},
        "fids": {"ts": 1, "k": 2, "__part_ts_days": 3, "__part_k_bucket": 4},
    }
    where = f"ts {op} '{lit_d.isoformat()}' AND k = {lit_key}"
    wh = Warehouse.__new__(Warehouse)  # no spark needed for the pruner
    kept = wh._prune_files(meta, snap, [f], where)
    row_matches = {
        "=": d == lit_d, ">=": d >= lit_d, "<=": d <= lit_d,
        ">": d > lit_d, "<": d < lit_d,
    }[op] and key == lit_key
    if row_matches:
        assert kept == [f], (
            f"pruned a file containing a matching row: {where} vs {f}"
        )
