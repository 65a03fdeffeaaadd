"""Property-based fuzz for the pure-numpy media codecs: hypothesis
generates shapes/values/variant flags and every lossless codec must
roundtrip EXACTLY; lossy JPEG must stay inside its quantization-error
envelope and progressive must equal baseline bit-for-bit.  Sizes are
bounded so the whole module stays fast; deterministic seeds come from
hypothesis itself (derandomized by its profile in CI runs)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from entropy_balance_weighting_spark.functions import multimodal as mm
from entropy_balance_weighting_spark.functions.avi_codec import (
    decode_avi_frames,
    encode_avi,
)
from entropy_balance_weighting_spark.functions.gif_codec import (
    decode_gif,
    decode_gif_frames,
    encode_gif,
    encode_gif_animation,
)
from entropy_balance_weighting_spark.functions.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
)
from entropy_balance_weighting_spark.functions.tiff_codec import (
    decode_tiff,
    encode_tiff,
)

_MAX_EXAMPLES = 25


def _img(draw, h, w, ch=3):
    data = draw(
        st.binary(min_size=h * w * ch, max_size=h * w * ch)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(
        (h, w, ch) if ch > 1 else (h, w)
    )


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_png_roundtrip(data):
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    interlace = data.draw(st.booleans())
    filters = data.draw(st.sampled_from(["cycle", "none"]))
    depth = data.draw(st.sampled_from([8, 16]))
    if depth == 16:
        px16 = np.frombuffer(
            data.draw(st.binary(min_size=h * w * 6, max_size=h * w * 6)),
            dtype=">u2",
        ).reshape(h, w, 3).astype(np.uint16)
        out = mm.decode_png(
            mm.encode_png(px16, filters=filters, interlace=interlace, depth=16)
        )
        np.testing.assert_array_equal(out, (px16 >> 8).astype(np.uint8))
        return
    px = _img(data.draw, h, w)
    out = mm.decode_png(mm.encode_png(px, filters=filters, interlace=interlace))
    np.testing.assert_array_equal(out, px)


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_png_palette_roundtrip(data):
    h = data.draw(st.integers(1, 20))
    w = data.draw(st.integers(1, 20))
    n = data.draw(st.integers(1, 256))
    pal = _img(data.draw, n, 1, 3).reshape(n, 3)
    idx = np.frombuffer(
        data.draw(st.binary(min_size=h * w, max_size=h * w)), dtype=np.uint8
    ).reshape(h, w) % n
    out = mm.decode_png(
        mm.encode_png(
            idx.astype(np.uint8),
            palette=pal,
            interlace=data.draw(st.booleans()),
        )
    )
    np.testing.assert_array_equal(out, pal[idx])


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_gif_roundtrip(data):
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    n = data.draw(st.integers(2, 256))
    pal = _img(data.draw, n, 1, 3).reshape(n, 3)
    idx = np.frombuffer(
        data.draw(st.binary(min_size=h * w, max_size=h * w)), dtype=np.uint8
    ).reshape(h, w) % n
    out = decode_gif(
        encode_gif(
            idx,
            pal,
            interlace=data.draw(st.booleans()),
            local_palette=data.draw(st.booleans()),
        )
    )
    np.testing.assert_array_equal(out, pal[idx])


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_gif_animation_roundtrip(data):
    nf = data.draw(st.integers(1, 4))
    h = data.draw(st.integers(1, 10))
    w = data.draw(st.integers(1, 10))
    fr = np.stack([_img(data.draw, h, w) for _ in range(nf)])
    out = decode_gif_frames(encode_gif_animation(fr))
    np.testing.assert_array_equal(np.stack(out), fr)


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_tiff_roundtrip(data):
    h = data.draw(st.integers(1, 20))
    w = data.draw(st.integers(1, 20))
    comp = data.draw(st.sampled_from(["none", "lzw", "packbits"]))
    be = data.draw(st.booleans())
    rps = data.draw(st.one_of(st.none(), st.integers(1, 8)))
    gray = data.draw(st.booleans())
    pred = data.draw(st.booleans())
    tile = data.draw(st.one_of(st.none(), st.sampled_from([(16, 16), (32, 16)])))
    px = _img(data.draw, h, w, 1 if gray else 3)
    out = decode_tiff(
        encode_tiff(
            px, compression=comp, big_endian=be, rows_per_strip=rps,
            predictor=pred, tile=tile,
        )
    )
    want = px if not gray else np.repeat(px[:, :, None], 3, axis=2)
    np.testing.assert_array_equal(out, want)


@settings(max_examples=_MAX_EXAMPLES, deadline=None)
@given(st.data())
def test_fuzz_avi_roundtrip(data):
    nf = data.draw(st.integers(1, 4))
    h = data.draw(st.integers(1, 10))
    w = data.draw(st.integers(1, 10))
    fr = np.stack([_img(data.draw, h, w) for _ in range(nf)])
    out, _ = decode_avi_frames(encode_avi(fr))
    np.testing.assert_array_equal(np.stack(out), fr)


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_fuzz_jpeg_progressive_equals_baseline(data):
    h = data.draw(st.integers(1, 24))
    w = data.draw(st.integers(1, 24))
    sub = data.draw(st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]))
    q = data.draw(st.sampled_from([30, 75, 95]))
    px = _img(data.draw, h, w)
    base = decode_jpeg(encode_jpeg(px, q, sub))
    prog = decode_jpeg(encode_jpeg(px, q, sub, progressive=True))
    np.testing.assert_array_equal(prog, base)
    # lossy error envelope for arbitrary content — only meaningful
    # without chroma subsampling (a hard chroma edge under 4:2:x is
    # LEGITIMATELY smeared beyond any tight bound)
    if q == 95 and sub == "4:4:4":
        assert int(np.abs(base.astype(int) - px.astype(int)).max()) <= 64
