"""Pure-Python PNG codec (stdlib ``zlib`` + numpy).

The container has no Pillow/libpng, but PNG itself is a public,
fully-specified format (RFC 2083 / the W3C PNG spec).  Since r15 the
decoder covers the full static-image core of the spec:

* color types 0 (greyscale), 2 (RGB), 3 (palette + PLTE, with the
  optional tRNS alpha table), 4 (grey+alpha), 6 (RGBA);
* bit depths 1/2/4/8/16 where the spec allows them (sub-8 greys are
  scaled to 8-bit, 16-bit samples are reduced to their high byte —
  the spec's own 8-bit reduction — so every decode yields uint8);
* all five per-row predictor filters;
* both interlace methods: none and Adam7 (seven per-pass filtered
  sub-images scattered into the output lattice).

Encoding writes filter-0 rows and supports the same surface (8/16-bit
grey/RGB/RGBA, 1/2/4/8-bit palette via :func:`encode_png_paletted`,
optional Adam7) so every decode path has a locally produced twin.
Animated PNG (acTL/fdAT) is out of scope: APNG files decode as their
first (static) frame per the APNG spec's compatibility rule.

Filters 0 (None) and 2 (Up) are vectorized; 1 (Sub) is a per-channel
modular cumsum; 3 (Average) and 4 (Paeth) fall back to a per-byte scan
because each pixel depends on the *decoded* left neighbour.  Intended
for the feature-extraction kernels' typical thumbnails, not bulk
transcoding.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> samples/px
_DEPTHS = {  # legal bit depths per color type (PNG spec table 11.1)
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass lattice: (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _pack_row(vals: np.ndarray, depth: int) -> bytes:
    """One row of sub-byte samples (values < 2**depth) → packed bytes,
    MSB-first per the spec."""
    bits = (
        (vals[:, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(-1)
    return np.packbits(bits).tobytes()


def encode_png(
    arr: np.ndarray, interlace: bool = False, grey_depth: int | None = None
) -> bytes:
    """Encode an array — (H, W) grey, (H, W, 2) grey+alpha, (H, W, 3)
    RGB or (H, W, 4) RGBA — as a PNG (filter 0 rows).

    uint8 input writes bit depth 8, uint16 writes 16 (big-endian).
    ``grey_depth`` of 1/2/4 packs a 2-D array whose values already fit
    that depth.  ``interlace=True`` writes Adam7."""
    arr = np.ascontiguousarray(arr)
    if arr.dtype == np.uint16:
        depth = 16
    elif arr.dtype == np.uint8:
        depth = 8
    else:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    if arr.ndim == 2:
        color_type = 0
    elif arr.ndim == 3 and arr.shape[2] == 2:
        color_type = 4
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type = 2
    elif arr.ndim == 3 and arr.shape[2] == 4:
        color_type = 6
    else:
        raise ValueError(f"unsupported image shape {arr.shape}")
    if grey_depth is not None:
        if color_type != 0 or depth != 8:
            raise ValueError("grey_depth needs a 2-D uint8 array")
        if grey_depth not in (1, 2, 4):
            raise ValueError("grey_depth must be 1, 2 or 4")
        if int(arr.max(initial=0)) >= (1 << grey_depth):
            raise ValueError("grey_depth too small for the values")
        depth = grey_depth
    h, w = arr.shape[:2]
    flat = arr.reshape(h, w, -1)

    def rows_of(sub: np.ndarray) -> bytes:
        ph, pw = sub.shape[:2]
        out = []
        for y in range(ph):
            if depth == 16:
                payload = sub[y].astype(">u2").tobytes()
            elif depth == 8:
                payload = sub[y].astype(np.uint8).tobytes()
            else:
                payload = _pack_row(sub[y].reshape(-1), depth)
            out.append(b"\x00" + payload)
        return b"".join(out)

    if interlace:
        raw = b"".join(
            rows_of(flat[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if flat[y0::dy, x0::dx].shape[0] and flat[y0::dy, x0::dx].shape[1]
        )
    else:
        raw = rows_of(flat)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def encode_png_paletted(
    indices: np.ndarray,
    palette: np.ndarray,
    bit_depth: int = 8,
    trns: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """(H, W) palette indices + (N, 3) uint8 palette → color-type-3
    PNG at ``bit_depth`` 1/2/4/8, with an optional tRNS alpha table."""
    indices = np.ascontiguousarray(indices, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if indices.ndim != 2 or palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("need (H, W) indices and (N, 3) palette")
    if bit_depth not in (1, 2, 4, 8):
        raise ValueError("palette bit depth must be 1, 2, 4 or 8")
    n = palette.shape[0]
    if n > 256 or int(indices.max(initial=0)) >= min(n, 1 << bit_depth):
        raise ValueError("indices exceed palette/bit depth")
    h, w = indices.shape

    def rows_of(sub: np.ndarray) -> bytes:
        out = []
        for y in range(sub.shape[0]):
            if bit_depth == 8:
                payload = sub[y].tobytes()
            else:
                payload = _pack_row(sub[y], bit_depth)
            out.append(b"\x00" + payload)
        return b"".join(out)

    if interlace:
        raw = b"".join(
            rows_of(indices[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if indices[y0::dy, x0::dx].size
        )
    else:
        raw = rows_of(indices)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, 3, 0, 0, 1 if interlace else 0
    )
    out = _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", np.asarray(trns, np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _unfilter(
    raw: bytes, off: int, nrows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """``nrows`` filtered scanlines (filter byte + ``stride`` data
    bytes each) starting at ``off`` → ((nrows, stride) uint8, new
    offset)."""
    if off + nrows * (stride + 1) > len(raw):
        raise ValueError("scanline data size mismatch")
    out = np.empty((nrows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    # Average/Paeth are per-byte recurrences (each byte needs the
    # RECONSTRUCTED left neighbour), so they run as plain-Python list
    # loops — numpy scalar indexing made the same loops ~4x slower
    # (r15 measurement in archive/OPTIMIZATION_r15.md).  prev keeps a lazily
    # materialized list twin so runs of filter-3/4 rows convert once.
    prev_list: list[int] | None = [0] * stride
    for y in range(nrows):
        f = raw[off]
        if f <= 2:
            row = np.frombuffer(raw, np.uint8, stride, off + 1).copy()
            if f == 1:  # Sub: modular cumsum per pixel-channel column
                pad = (-stride) % bpp
                if pad:
                    row = np.concatenate([row, np.zeros(pad, np.uint8)])
                row = (
                    np.cumsum(
                        row.reshape(-1, bpp).astype(np.uint32), axis=0
                    )
                    % 256
                ).astype(np.uint8).reshape(-1)[:stride]
            elif f == 2:  # Up: uint8 addition wraps mod 256 natively
                row += prev
            prev_list = None
        elif f in (3, 4):
            if prev_list is None:
                prev_list = prev.tolist()
            pl = prev_list
            rl = list(raw[off + 1 : off + 1 + stride])
            if f == 3:  # Average
                for x in range(min(bpp, stride)):
                    rl[x] = (rl[x] + (pl[x] >> 1)) & 0xFF
                for x in range(bpp, stride):
                    rl[x] = (rl[x] + ((rl[x - bpp] + pl[x]) >> 1)) & 0xFF
            else:  # Paeth (a=c=0 for x<bpp reduces the predictor to b)
                for x in range(min(bpp, stride)):
                    rl[x] = (rl[x] + pl[x]) & 0xFF
                for x in range(bpp, stride):
                    a = rl[x - bpp]
                    b = pl[x]
                    c = pl[x - bpp]
                    pa = abs(b - c)
                    pb = abs(a - c)
                    pc = abs(a + b - c - c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    rl[x] = (rl[x] + pred) & 0xFF
            row = np.frombuffer(bytes(rl), np.uint8)
            prev_list = rl
        else:
            raise ValueError(f"unknown filter type {f}")
        out[y] = row
        prev = row
        off += stride + 1
    return out, off


def _rows_to_samples(
    rows: np.ndarray, pw: int, channels: int, depth: int
) -> np.ndarray:
    """Unfiltered byte rows → (nrows, pw, channels) uint8 samples.
    16-bit samples reduce to their high byte (the spec's scaling to
    8-bit); sub-byte depths unpack MSB-first and are returned RAW
    (palette indices / unscaled grey levels)."""
    n = rows.shape[0]
    if depth == 8:
        return rows[:, : pw * channels].reshape(n, pw, channels)
    if depth == 16:
        r = rows[:, : pw * channels * 2]
        return r.reshape(n, pw, channels, 2)[..., 0]
    bits = np.unpackbits(rows, axis=1)
    per = bits.shape[1] // depth
    vals = bits[:, : per * depth].reshape(n, per, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    v = (vals * weights).sum(axis=2).astype(np.uint8)
    return v[:, :pw].reshape(n, pw, 1)


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to a uint8 array: (H, W) for greyscale, (H, W, C)
    otherwise (palette images decode to RGB, or RGBA when a tRNS
    alpha table is present)."""
    data = bytes(data)
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat = 8, []
    w = h = depth = color_type = interlace = None
    palette = trns = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if color_type not in _CHANNELS:
                raise NotImplementedError(f"color type {color_type}")
            if depth not in _DEPTHS[color_type]:
                raise ValueError(
                    f"bit depth {depth} invalid for color type"
                    f" {color_type}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
        elif tag == b"PLTE":
            if length % 3 or length > 768:
                raise ValueError("bad PLTE length")
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS" and color_type == 3:
            trns = np.frombuffer(body, np.uint8)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if color_type == 3 and palette is None:
        raise ValueError("palette image missing PLTE")
    channels = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"bad IDAT zlib stream: {e}") from e
    bpp = max(1, channels * depth // 8)

    img = np.zeros((h, w, channels), dtype=np.uint8)
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * channels * depth + 7) // 8
        rows, off = _unfilter(raw, off, ph, stride, bpp)
        img[y0::dy, x0::dx] = _rows_to_samples(rows, pw, channels, depth)
    if off != len(raw):
        raise ValueError("scanline data size mismatch")

    if color_type == 3:
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("palette index out of range")
        rgb = palette[idx]
        if trns is None:
            return rgb
        alpha = np.full(palette.shape[0], 255, np.uint8)
        alpha[: min(len(trns), len(alpha))] = trns[: len(alpha)]
        return np.concatenate([rgb, alpha[idx][..., None]], axis=-1)
    if color_type == 0 and depth < 8:
        # scale sub-8 grey levels to full 8-bit range
        img = (
            img.astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
    return img[:, :, 0] if channels == 1 else img
