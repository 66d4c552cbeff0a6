"""GIF (87a/89a) codec — pure stdlib LZW, no image library.

Extends the REAL image tier (PPM/BMP/PNG/JPEG) with the remaining classic
lossless interchange format. GIF's compression is LZW — a *dictionary*
coder, not an entropy coder over a lossy transform — so like PNG's
DEFLATE it is exactly invertible and the decode path hash-replays in SQL.
The palette indirection and the 4-pass interlace row permutation are both
codec-real behaviors a fake decoder cannot emulate, and both sit inside
the certified query's position-weighted checksum (mm_image_gif).

Scope (rejects loudly outside it): single image, global color table,
optional interlace, 2..256-color palettes, no extensions on encode
(extension blocks are SKIPPED on decode per spec), 12-bit LZW with
dictionary reset at 4096 codes.

Protocol notes (the classic off-by-one pinned in tests/test_gif.py):
GIF LZW is "late change" — the DECODER widens the code size after its
table insert makes next_code == 1 << width; the decoder's inserts lag
the encoder's by exactly one code, so the ENCODER widens when its
insert makes next_code == (1 << width) + 1. TIFF's "early change"
variant would corrupt every stream at the width boundaries.

Scale shape: per-row payloads inside Arrow-batched ``mapInPandas`` —
embarrassingly parallel, no shuffle, no driver involvement.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 4096  # 12-bit LZW ceiling (GIF89a spec appendix F)

# Interlace passes: (first row, step) per GIF89a spec section 20.
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def interlace_order(height: int) -> list[int]:
    """Source-row order in which an interlaced GIF stores rows."""
    return [r for start, step in _INTERLACE_PASSES for r in range(start, height, step)]


class _BitWriter:
    """LSB-first bit packer (GIF stores LZW codes little-endian-bitwise)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("LZW bit stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        code = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return code


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _BitWriter()
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    w.write(clear, width)
    cur = bytes([indices[0]])
    for k in indices[1:]:
        cand = cur + bytes([k])
        if cand in table:
            cur = cand
            continue
        w.write(table[cur], width)
        if next_code < _MAX_CODE:
            table[cand] = next_code
            next_code += 1
            # late change: widen AFTER the insert that overflows width
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            w.write(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([k])
    w.write(table[cur], width)
    # the decoder adds one more entry on reading that last code; when the
    # entry fills the current width it reads the EOI one bit wider
    if next_code == 1 << width and width < 12:
        width += 1
    w.write(eoi, width)
    return w.flush()


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    r = _BitReader(data)
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = r.read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out.extend(entry)
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > expected:
            raise ValueError(
                f"LZW produced {len(out)} indices, image holds {expected}"
            )
    if len(out) != expected:
        raise ValueError(f"LZW produced {len(out)} indices, expected {expected}")
    return bytes(out)


def _skip_extension(content: bytes, pos: int) -> int:
    """Skip a 0x21 extension block (label + length-prefixed sub-blocks),
    bounds-checked so a truncated external stream raises loudly instead
    of IndexError."""
    pos += 2
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF extension block")
        ln = content[pos]
        if ln == 0:
            return pos + 1
        pos += 1 + ln


def _read_subblocks(content: bytes, pos: int) -> tuple[bytes, int]:
    """Collect length-prefixed data sub-blocks up to the 0 terminator,
    bounds-checked."""
    coded = bytearray()
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF data sub-blocks")
        ln = content[pos]
        if ln == 0:
            return bytes(coded), pos + 1
        if pos + 1 + ln > len(content):
            raise ValueError("truncated GIF data sub-blocks")
        coded += content[pos + 1 : pos + 1 + ln]
        pos += 1 + ln


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Index raster [h, w] (uint8) + palette [n, 3] -> GIF89a bytes."""
    idx = np.asarray(indices)
    pal = np.asarray(palette)
    if idx.ndim != 2 or idx.size == 0:
        raise ValueError(f"encode_gif needs [h, w] indices, got {idx.shape}")
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be [2..256, 3], got {pal.shape}")
    if int(idx.max()) >= pal.shape[0] or int(idx.min()) < 0:
        raise ValueError("index out of palette range")
    h, w = idx.shape
    gct_bits = max(1, int(pal.shape[0] - 1).bit_length())
    gct_n = 1 << gct_bits
    full_pal = np.zeros((gct_n, 3), dtype=np.uint8)
    full_pal[: pal.shape[0]] = pal
    lsd_flags = 0x80 | (7 << 4) | (gct_bits - 1)
    head = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, lsd_flags, 0, 0)
        + full_pal.tobytes()
    )
    img_flags = 0x40 if interlace else 0x00
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, img_flags)
    rows = idx[interlace_order(h)] if interlace else idx
    min_code_size = max(2, gct_bits)
    coded = _lzw_encode(rows.astype(np.uint8).tobytes(), min_code_size)
    blocks = b"".join(
        bytes([min(255, len(coded) - o)]) + coded[o : o + 255]
        for o in range(0, len(coded), 255)
    )
    return head + desc + bytes([min_code_size]) + blocks + b"\x00" + b"\x3b"


def decode_gif(content: bytes) -> tuple[np.ndarray, np.ndarray]:
    """GIF bytes -> (rgb raster [h, w, 3] uint8, palette [n, 3]).

    Walks the block stream: extensions (0x21) are skipped per spec, the
    first image descriptor is decoded (interlaced rows re-placed), and
    the trailer must follow. Rejects loudly: bad magic, missing global
    color table, local color tables (unsupported), truncated or
    over-running LZW streams, index rasters shorter than the descriptor."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad magic)")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    if not flags & 0x80:
        raise ValueError("GIF without a global color table is unsupported")
    gct_n = 2 << (flags & 0x07)
    pos = 13
    palette = np.frombuffer(content[pos : pos + 3 * gct_n], dtype=np.uint8)
    palette = palette.reshape(gct_n, 3).copy()
    pos += 3 * gct_n
    while pos < len(content):
        block = content[pos]
        if block == 0x21:  # extension: label + sub-blocks, skipped
            pos = _skip_extension(content, pos)
        elif block == 0x2C:
            if pos + 10 > len(content):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h, iflags = struct.unpack(
                "<HHHHB", content[pos + 1 : pos + 10]
            )
            if iflags & 0x80:
                raise ValueError("local color tables are unsupported")
            pos += 10
            min_code_size = content[pos]
            pos += 1
            if not 2 <= min_code_size <= 8:
                raise ValueError(f"bad LZW min code size {min_code_size}")
            coded, pos = _read_subblocks(content, pos)
            if content[pos : pos + 1] != b"\x3b":
                raise ValueError("missing GIF trailer after image data")
            raw = _lzw_decode(bytes(coded), min_code_size, w * h)
            idx = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
            if int(idx.max()) >= gct_n:
                raise ValueError("pixel index beyond global color table")
            if iflags & 0x40:
                out = np.empty_like(idx)
                out[interlace_order(h)] = idx
                idx = out
            return palette[idx], palette
        else:
            raise ValueError(f"unexpected GIF block {block:#x}")
    raise ValueError("GIF stream ended without an image descriptor")


# ---- animated GIF (multi-frame streams; the video-tier entry point) -------


def encode_gif_anim(
    frames: np.ndarray, palette: np.ndarray, delay_cs: int = 4
) -> bytes:
    """Frame stack [n, h, w] (uint8 indices) + palette -> animated GIF89a.

    Real-world shape: NETSCAPE2.0 loop extension, a graphic-control
    extension (delay, no disposal) before every frame, one image
    descriptor + LZW stream per frame. All frames are full-canvas (no
    partial-frame compositing — decode rejects that loudly)."""
    stack = np.asarray(frames)
    if stack.ndim != 3 or stack.size == 0:
        raise ValueError(f"encode_gif_anim needs [n, h, w], got {stack.shape}")
    pal = np.asarray(palette)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be [2..256, 3], got {pal.shape}")
    if int(stack.max()) >= pal.shape[0] or int(stack.min()) < 0:
        raise ValueError("index out of palette range")
    n, h, w = stack.shape
    gct_bits = max(1, int(pal.shape[0] - 1).bit_length())
    gct_n = 1 << gct_bits
    full_pal = np.zeros((gct_n, 3), dtype=np.uint8)
    full_pal[: pal.shape[0]] = pal
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | (7 << 4) | (gct_bits - 1), 0, 0)
    out += full_pal.tobytes()
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code_size = max(2, gct_bits)
    for f in range(n):
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        coded = _lzw_encode(stack[f].astype(np.uint8).tobytes(), min_code_size)
        out += bytes([min_code_size])
        out += b"".join(
            bytes([min(255, len(coded) - o)]) + coded[o : o + 255]
            for o in range(0, len(coded), 255)
        )
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(content: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Animated GIF bytes -> (rgb frame stack [n, h, w, 3], palette).

    Every frame must be full-canvas and non-interlaced (partial-frame
    compositing/disposal is rejected loudly — this decoder feeds exact
    per-frame analytics, not a renderer). Extensions are skipped."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad magic)")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    if not flags & 0x80:
        raise ValueError("GIF without a global color table is unsupported")
    gct_n = 2 << (flags & 0x07)
    pos = 13
    palette = np.frombuffer(content[pos : pos + 3 * gct_n], dtype=np.uint8)
    palette = palette.reshape(gct_n, 3).copy()
    pos += 3 * gct_n
    frames: list[np.ndarray] = []
    while pos < len(content):
        block = content[pos]
        if block == 0x21:
            pos = _skip_extension(content, pos)
        elif block == 0x2C:
            if pos + 10 > len(content):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h, iflags = struct.unpack(
                "<HHHHB", content[pos + 1 : pos + 10]
            )
            if (left, top, w, h) != (0, 0, sw, sh):
                raise ValueError(
                    "partial-canvas frames (disposal compositing) are "
                    "unsupported"
                )
            if iflags & 0xC0:
                raise ValueError(
                    "local color tables / interlace unsupported in "
                    "animation frames"
                )
            pos += 10
            min_code_size = content[pos]
            pos += 1
            if not 2 <= min_code_size <= 8:
                raise ValueError(f"bad LZW min code size {min_code_size}")
            coded, pos = _read_subblocks(content, pos)
            raw = _lzw_decode(coded, min_code_size, w * h)
            idx = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
            if int(idx.max()) >= gct_n:
                raise ValueError("pixel index beyond global color table")
            frames.append(palette[idx])
        elif block == 0x3B:
            if not frames:
                raise ValueError("GIF stream ended without an image")
            return np.stack(frames), palette
        else:
            raise ValueError(f"unexpected GIF block {block:#x}")
    raise ValueError("GIF stream ended without a trailer")
