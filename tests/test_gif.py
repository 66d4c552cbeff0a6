"""GIF codec spec tests (operators/gif.py).

The LZW protocol has a classic off-by-one (late vs early width change)
that a self-roundtrip cannot catch — encoder and decoder would agree on
the wrong protocol. These tests pin the real one two independent ways:
the canonical hand-decodable 1x1 stream every GIF reader accepts, and a
bit-level hand decode of this encoder's output at the first width
boundary.
"""

from __future__ import annotations

import numpy as np
import pytest

from console_datagen_spark.operators.gif import (
    _BitReader,
    decode_gif,
    encode_gif,
    interlace_order,
)

# The widely published minimal GIF: 1x1, 2-entry palette, LZW stream
# (min code size 2) = [clear, index 0, EOI] packed LSB-first = 44 01.
CANONICAL_1PX = bytes.fromhex(
    "474946383961"  # GIF89a
    "01000100800000"  # LSD: 1x1, GCT of 2
    "000000ffffff"  # palette: black, white
    "2c000000000100010000"  # image descriptor
    "02"  # LZW min code size
    "024401"  # one 2-byte sub-block
    "003b"  # terminator + trailer
)


def test_canonical_1px_stream_decodes():
    rgb, pal = decode_gif(CANONICAL_1PX)
    assert rgb.shape == (1, 1, 3)
    assert tuple(rgb[0, 0]) == (0, 0, 0)
    assert pal.shape == (2, 3)


def test_width_boundary_is_late_change():
    """Hand-decode this encoder's bit stream around the first width bump.

    min code size 2: clear=4, eoi=5, first insert gets code 6. The
    decoder's inserts lag the encoder's by one, so codes 1..3 after the
    clear must arrive at width 3 and code 4 onward at width 4 — 'late
    change'. An early-change encoder would emit the 3rd code at width 4
    and desynchronize every downstream bit."""
    # 4-symbol alphabet, no repeated pairs early: indices chosen so each
    # step emits a literal and inserts a new pair code.
    idx = np.array([[0, 1, 2, 3, 0, 2, 1, 3]], dtype=np.uint8)
    pal = np.zeros((4, 3), dtype=np.uint8)
    content = encode_gif(idx, pal)
    lzw_off = content.index(b"\x2c") + 10
    assert content[lzw_off] == 2  # min code size
    data = content[lzw_off + 2 : lzw_off + 2 + content[lzw_off + 1]]
    r = _BitReader(data)
    assert r.read(3) == 4  # clear
    assert r.read(3) == 0  # literal 0      (decoder: no insert yet)
    assert r.read(3) == 1  # literal 1      (decoder insert #1 -> 6)
    assert r.read(3) == 2  # literal 2      (decoder insert #2 -> 7,
    #                         next_code hits 8 == 1<<3 -> widen AFTER this)
    assert r.read(4) == 3  # literal 3 at width 4
    assert r.read(4) == 0


def test_roundtrip_random_images():
    rng = np.random.default_rng(5)
    for shape in ((1, 1), (3, 7), (16, 16), (64, 64)):
        idx = rng.integers(0, 256, size=shape).astype(np.uint8)
        pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
        rgb, got_pal = decode_gif(encode_gif(idx, pal))
        assert np.array_equal(rgb, pal[idx])
        assert np.array_equal(got_pal, pal)


def test_dictionary_reset_path():
    # 128x128 random over a full palette forces > 4096 LZW codes, so the
    # encoder must emit a mid-stream clear and both sides must resync.
    rng = np.random.default_rng(9)
    idx = rng.integers(0, 256, size=(128, 128)).astype(np.uint8)
    pal = np.arange(256, dtype=np.uint8).repeat(3).reshape(256, 3)
    rgb, _ = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(rgb, pal[idx])


def test_interlace_roundtrip_and_order():
    assert interlace_order(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    rng = np.random.default_rng(2)
    idx = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
    pal = np.arange(256, dtype=np.uint8).repeat(3).reshape(256, 3)
    inter = encode_gif(idx, pal, interlace=True)
    plain = encode_gif(idx, pal, interlace=False)
    assert inter != plain  # bytes differ (row order + flag)...
    rgb_i, _ = decode_gif(inter)
    rgb_p, _ = decode_gif(plain)
    assert np.array_equal(rgb_i, rgb_p)  # ...pixels identical
    assert np.array_equal(rgb_i, pal[idx])


def test_extensions_are_skipped():
    idx = np.array([[1, 0]], dtype=np.uint8)
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    content = encode_gif(idx, pal)
    # splice a graphic-control extension between header and descriptor
    desc_at = content.index(b"\x2c")
    gce = b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    spliced = content[:desc_at] + gce + content[desc_at:]
    rgb, _ = decode_gif(spliced)
    assert np.array_equal(rgb, pal[idx])


def test_small_palettes_round_trip():
    idx = np.array([[0, 1, 1, 0], [1, 0, 0, 1]], dtype=np.uint8)
    pal = np.array([[10, 20, 30], [200, 100, 50]], dtype=np.uint8)
    rgb, _ = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(rgb, pal[idx])


def test_rejects_bad_streams():
    idx = np.zeros((2, 2), dtype=np.uint8)
    pal = np.zeros((4, 3), dtype=np.uint8)
    good = encode_gif(idx, pal)
    with pytest.raises(ValueError, match="magic"):
        decode_gif(b"JIF89a" + good[6:])
    with pytest.raises(ValueError, match="trailer"):
        decode_gif(good[:-1] + b"\x00")
    truncated = bytearray(good)
    # shrink the descriptor height so LZW over-runs the raster
    truncated[good.index(b"\x2c") + 7] = 1
    with pytest.raises(ValueError, match="LZW produced"):
        decode_gif(bytes(truncated))
    with pytest.raises(ValueError, match="palette"):
        encode_gif(idx, np.zeros((300, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="index out of palette"):
        encode_gif(np.full((2, 2), 5, dtype=np.uint8), pal)


def test_anim_roundtrip_and_frame_count():
    from console_datagen_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_anim,
    )

    rng = np.random.default_rng(4)
    stack = rng.integers(0, 256, size=(5, 8, 8)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    frames, got_pal = decode_gif_frames(encode_gif_anim(stack, pal))
    assert frames.shape == (5, 8, 8, 3)
    assert np.array_equal(frames, pal[stack])
    assert np.array_equal(got_pal, pal)


def test_anim_rejects_partial_frames_and_single_image_api():
    from console_datagen_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_anim,
    )

    pal = np.zeros((4, 3), dtype=np.uint8)
    stack = np.zeros((2, 4, 4), dtype=np.uint8)
    content = bytearray(encode_gif_anim(stack, pal))
    # shrink the second frame's width in its descriptor -> partial canvas
    second = content.index(b"\x2c", content.index(b"\x2c") + 1)
    content[second + 5] = 2
    content[second + 6] = 0
    with pytest.raises(ValueError, match="partial-canvas"):
        decode_gif_frames(bytes(content))
    # the single-image decoder refuses multi-image streams (no silent
    # first-frame-only reads of an animation)
    with pytest.raises(ValueError, match="trailer"):
        decode_gif(encode_gif_anim(stack, pal))


def test_anim_single_frame_equals_still():
    from console_datagen_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_anim,
    )

    rng = np.random.default_rng(6)
    idx = rng.integers(0, 256, size=(1, 8, 8)).astype(np.uint8)
    pal = np.arange(256, dtype=np.uint8).repeat(3).reshape(256, 3)
    frames, _ = decode_gif_frames(encode_gif_anim(idx, pal))
    still, _ = decode_gif(encode_gif(idx[0], pal))
    assert np.array_equal(frames[0], still)


def test_truncated_streams_raise_loud_valueerrors():
    """External truncated files must raise ValueError with a clear
    message, never IndexError/struct.error from a raw slice."""
    idx = np.zeros((4, 4), dtype=np.uint8)
    pal = np.zeros((4, 3), dtype=np.uint8)
    good = encode_gif(idx, pal)
    # cut mid-descriptor, mid-subblocks, and mid-extension
    desc_at = good.index(b"\x2c")
    with pytest.raises(ValueError, match="truncated GIF image descriptor"):
        decode_gif(good[: desc_at + 4])
    with pytest.raises(ValueError, match="truncated GIF data sub-blocks"):
        decode_gif(good[: desc_at + 14])
    gce = b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    spliced = good[:desc_at] + gce
    with pytest.raises(ValueError, match="truncated GIF extension"):
        decode_gif(spliced[:-3])
    with pytest.raises(ValueError, match="index out of palette"):
        encode_gif(np.full((2, 2), -1, dtype=np.int64), pal)
    with pytest.raises(ValueError, match="needs"):
        encode_gif(np.zeros((0, 4), dtype=np.uint8), pal)


def test_lzw_property_roundtrip():
    """Hypothesis sweep over the raw LZW layer: arbitrary index streams
    (including long runs -> KwKwK chains, and tiny alphabets -> early
    width bumps) must round-trip for every legal min code size."""
    from hypothesis import given, settings, strategies as st

    from console_datagen_spark.operators.gif import _lzw_decode, _lzw_encode

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=2, max_value=8),
        st.data(),
    )
    def check(mcs, data):
        n = data.draw(st.integers(min_value=1, max_value=600))
        idx = bytes(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=(1 << mcs) - 1),
                    min_size=n,
                    max_size=n,
                )
            )
        )
        assert _lzw_decode(_lzw_encode(idx, mcs), mcs, len(idx)) == idx

    check()


def test_lzw_kwkwk_run():
    # the classic KwKwK pathology: a long single-symbol run makes the
    # decoder receive just-assigned codes repeatedly
    from console_datagen_spark.operators.gif import _lzw_decode, _lzw_encode

    idx = b"\x01" * 5000
    assert _lzw_decode(_lzw_encode(idx, 2), 2, len(idx)) == idx


def test_lzw_eoi_width_after_last_code_fills_table_width():
    # on reading the last data code the decoder adds one more table entry;
    # when that entry fills the current code width it reads the EOI one bit
    # wider, so the encoder must write it wider too (a 19-symbol ramp and a
    # 56-zero run at min code size 2 end exactly there)
    from console_datagen_spark.operators.gif import _lzw_decode, _lzw_encode

    for idx in (bytes(i % 4 for i in range(19)), bytes(56)):
        assert _lzw_decode(_lzw_encode(idx, 2), 2, len(idx)) == idx
