"""Dependency-free PNG chart rasterizer (stdlib only: zlib + struct).

The reference renders its dashboard with matplotlib
(dashboard_calidad_aire.py:246-254); the engine takes no plotting
dependency, so ``plans.dashboard.render_png`` draws with this module: a
tiny software rasterizer (an indexed-color canvas of one palette byte
per pixel, span writes for lines and bars, Bresenham lines, a 5x7
bitmap font for titles) and a from-scratch PNG encoder (signature +
IHDR + PLTE + zlib'd filter-0 scanlines + IEND — the minimum an
indexed-color image needs). The bit depth is the smallest of 1/2/4/8
that holds the palette, so the dashboard's five colors pack two pixels
per byte. Charts come out plain but real: the bytes open in any viewer,
and pytest decodes them back to prove the pipeline end-to-end.

This is a driver-side leaf: it only touches the chart-ready rows the
dashboard collects, never the fact data. Most panels reduce to a few
hundred rows, but the rolling-mean line carries one value per event row,
so :func:`draw_line_panel` costs O(points + pixels), not one Bresenham
call per point.
"""

from __future__ import annotations

import struct
import zlib
from itertools import groupby
from operator import itemgetter

# 5x7 bitmap glyphs (columns of 7 bits, LSB = top row) for the chars the
# panel titles use. Anything unmapped renders as a blank.
_FONT: dict[str, tuple[int, ...]] = {
    "A": (0x7E, 0x09, 0x09, 0x09, 0x7E), "B": (0x7F, 0x49, 0x49, 0x49, 0x36),
    "C": (0x3E, 0x41, 0x41, 0x41, 0x22), "D": (0x7F, 0x41, 0x41, 0x22, 0x1C),
    "E": (0x7F, 0x49, 0x49, 0x49, 0x41), "F": (0x7F, 0x09, 0x09, 0x09, 0x01),
    "G": (0x3E, 0x41, 0x49, 0x49, 0x7A), "H": (0x7F, 0x08, 0x08, 0x08, 0x7F),
    "I": (0x00, 0x41, 0x7F, 0x41, 0x00), "J": (0x20, 0x40, 0x41, 0x3F, 0x01),
    "K": (0x7F, 0x08, 0x14, 0x22, 0x41), "L": (0x7F, 0x40, 0x40, 0x40, 0x40),
    "M": (0x7F, 0x02, 0x0C, 0x02, 0x7F), "N": (0x7F, 0x04, 0x08, 0x10, 0x7F),
    "O": (0x3E, 0x41, 0x41, 0x41, 0x3E), "P": (0x7F, 0x09, 0x09, 0x09, 0x06),
    "Q": (0x3E, 0x41, 0x51, 0x21, 0x5E), "R": (0x7F, 0x09, 0x19, 0x29, 0x46),
    "S": (0x46, 0x49, 0x49, 0x49, 0x31), "T": (0x01, 0x01, 0x7F, 0x01, 0x01),
    "U": (0x3F, 0x40, 0x40, 0x40, 0x3F), "V": (0x1F, 0x20, 0x40, 0x20, 0x1F),
    "W": (0x3F, 0x40, 0x38, 0x40, 0x3F), "X": (0x63, 0x14, 0x08, 0x14, 0x63),
    "Y": (0x07, 0x08, 0x70, 0x08, 0x07), "Z": (0x61, 0x51, 0x49, 0x45, 0x43),
    "0": (0x3E, 0x51, 0x49, 0x45, 0x3E), "1": (0x00, 0x42, 0x7F, 0x40, 0x00),
    "2": (0x42, 0x61, 0x51, 0x49, 0x46), "3": (0x21, 0x41, 0x45, 0x4B, 0x31),
    "4": (0x18, 0x14, 0x12, 0x7F, 0x10), "5": (0x27, 0x45, 0x45, 0x45, 0x39),
    "6": (0x3C, 0x4A, 0x49, 0x49, 0x30), "7": (0x01, 0x71, 0x09, 0x05, 0x03),
    "8": (0x36, 0x49, 0x49, 0x49, 0x36), "9": (0x06, 0x49, 0x49, 0x29, 0x1E),
    "-": (0x08, 0x08, 0x08, 0x08, 0x08), ".": (0x00, 0x60, 0x60, 0x00, 0x00),
    " ": (0x00, 0x00, 0x00, 0x00, 0x00),
}


class Canvas:
    """Indexed-color raster: (0,0) is top-left, colors are (r,g,b).

    ``buf`` holds one palette index per pixel, row-major. ``palette``
    lists the colors in order of first use, the background at index 0;
    a 257th color raises ``ValueError``. Every primitive clips to the
    canvas pixel by pixel, as :meth:`set` does."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255)):
        self.width = width
        self.height = height
        self.palette = [tuple(bg)]
        self._index = {self.palette[0]: 0}
        self.buf = bytearray(width * height)

    def _ix(self, color) -> int:
        """The palette index of ``color``, appended on first use."""
        color = tuple(color)
        i = self._index.get(color)
        if i is None:
            if len(self.palette) == 256:
                raise ValueError(f"a PNG palette holds 256 colors; {color} is the 257th")
            i = self._index[color] = len(self.palette)
            self.palette.append(color)
        return i

    def _plot(self, x: int, y: int, i: int) -> None:
        if 0 <= x < self.width and 0 <= y < self.height:
            self.buf[y * self.width + x] = i

    def set(self, x: int, y: int, color) -> None:
        self._plot(x, y, self._ix(color))

    def hline(self, x0: int, x1: int, y: int, color) -> None:
        i = self._ix(color)
        lo, hi = max(min(x0, x1), 0), min(max(x0, x1), self.width - 1)
        if 0 <= y < self.height and lo <= hi:
            row = y * self.width
            self.buf[row + lo : row + hi + 1] = bytes((i,)) * (hi - lo + 1)

    def vline(self, x: int, y0: int, y1: int, color) -> None:
        i = self._ix(color)
        lo, hi = max(min(y0, y1), 0), min(max(y0, y1), self.height - 1)
        if 0 <= x < self.width and lo <= hi:
            w = self.width
            self.buf[lo * w + x : hi * w + x + 1 : w] = bytes((i,)) * (hi - lo + 1)

    def rect(self, x0: int, y0: int, x1: int, y1: int, color) -> None:
        self.hline(x0, x1, y0, color)
        self.hline(x0, x1, y1, color)
        self.vline(x0, y0, y1, color)
        self.vline(x1, y0, y1, color)

    def fill_rect(self, x0: int, y0: int, x1: int, y1: int, color) -> None:
        for y in range(min(y0, y1), max(y0, y1) + 1):
            self.hline(x0, x1, y, color)

    def line(self, x0: int, y0: int, x1: int, y1: int, color) -> None:
        """Bresenham."""
        i = self._ix(color)
        dx, dy = abs(x1 - x0), -abs(y1 - y0)
        sx, sy = (1 if x0 < x1 else -1), (1 if y0 < y1 else -1)
        err = dx + dy
        while True:
            self._plot(x0, y0, i)
            if x0 == x1 and y0 == y1:
                return
            e2 = 2 * err
            if e2 >= dy:
                err += dy
                x0 += sx
            if e2 <= dx:
                err += dx
                y0 += sy

    def text(self, x: int, y: int, s: str, color, scale: int = 1) -> None:
        i = self._ix(color)
        cx = x
        for ch in s.upper():
            glyph = _FONT.get(ch, _FONT[" "])
            for col, bits in enumerate(glyph):
                for row in range(7):
                    if bits >> row & 1:
                        for dx in range(scale):
                            for dy in range(scale):
                                self._plot(
                                    cx + col * scale + dx, y + row * scale + dy, i
                                )
            cx += (5 + 1) * scale

    def to_png(self) -> bytes:
        """Minimal spec-conforming indexed-color PNG (color type 3): a
        ``PLTE`` chunk, the smallest bit depth of 1/2/4/8 that holds the
        palette, filter-0 scanlines, zlib level 9."""

        def chunk(tag: bytes, payload: bytes) -> bytes:
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        w = self.width
        depth = next(d for d in (1, 2, 4, 8) if len(self.palette) <= 1 << d)
        per = 8 // depth  # pixels per byte
        stride = -(-w // per)
        pad = bytes(stride * per - w)
        rows = []
        for y in range(self.height):
            row = self.buf[y * w : (y + 1) * w] + pad
            # pixel k of each byte sits ``depth * (per - 1 - k)`` bits up;
            # an index fits in ``depth`` bits, so the shifted sub-rows
            # never overlap and OR-ing them packs the row
            packed = 0
            for k in range(per):
                packed |= int.from_bytes(row[k::per], "big") << depth * (per - 1 - k)
            rows.append(b"\x00" + packed.to_bytes(stride, "big"))
        ihdr = struct.pack(">IIBBBBB", w, self.height, depth, 3, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", b"".join(bytes(c) for c in self.palette))
            + chunk(b"IDAT", zlib.compress(b"".join(rows), 9))
            + chunk(b"IEND", b"")
        )


# chart palette (panels cycle through it)
_SERIES = (31, 119, 180)
_BAR = (255, 127, 14)
_AXIS = (60, 60, 60)
_TITLE = (0, 0, 0)


def _scale_to(vals: list[float], lo_px: int, hi_px: int) -> list[int]:
    """Map values into pixel range, degenerate ranges centered."""
    vmin, vmax = min(vals), max(vals)
    if vmax == vmin:
        return [(lo_px + hi_px) // 2] * len(vals)
    return [
        int(lo_px + (hi_px - lo_px) * (v - vmin) / (vmax - vmin)) for v in vals
    ]


def _drawn(v) -> bool:
    """False for the values a panel skips: None and NaN (a NULL mean)."""
    return v is not None and v == v


def draw_line_panel(c: Canvas, x0, y0, x1, y1, title: str, ys: list[float]) -> None:
    c.rect(x0, y0, x1, y1, _AXIS)
    c.text(x0 + 4, y0 + 3, title, _TITLE)
    ys = [v for v in ys if _drawn(v)]
    if not ys:
        return
    px0, px1, py0, py1 = x0 + 4, x1 - 4, y0 + 14, y1 - 4
    xs = _scale_to(list(range(len(ys))), px0, px1) if len(ys) > 1 else [(px0 + px1) // 2]
    # screen y grows downward → invert
    yy = _scale_to(ys, py1, py0)
    # Consecutive points in one pixel column chain vertical segments, which
    # cover exactly [min y, max y] of the run: one vline per column draws
    # the same pixels as a segment per point. Segments between columns
    # stay Bresenham, drawn from the earlier point to the later one,
    # because which pixel a tie picks depends on the direction.
    prev = None
    for x, run in groupby(zip(xs, yy), key=itemgetter(0)):
        col = [y for _, y in run]
        if prev is not None:
            c.line(*prev, x, col[0], _SERIES)
        c.vline(x, min(col), max(col), _SERIES)
        prev = (x, col[-1])


def draw_bar_panel(c: Canvas, x0, y0, x1, y1, title: str, ys: list[float]) -> None:
    c.rect(x0, y0, x1, y1, _AXIS)
    c.text(x0 + 4, y0 + 3, title, _TITLE)
    # a None/NaN value keeps its slot but draws no bar
    drawn = [(i, v) for i, v in enumerate(ys) if _drawn(v)]
    if not drawn:
        return
    px0, px1, py0, py1 = x0 + 4, x1 - 4, y0 + 14, y1 - 4
    # include 0 in the scale domain so bars draw FROM the zero line in
    # either direction (negative bars hang below it); an all-positive
    # series keeps the panel bottom as its baseline
    pts = _scale_to([v for _, v in drawn] + [0.0], py1, py0)
    tops, zero = pts[:-1], pts[-1]
    slot = max(1, (px1 - px0) // max(1, len(ys)))
    for (i, _), t in zip(drawn, tops):
        bx0 = px0 + i * slot
        bx1 = min(px1, bx0 + max(1, slot - 2))
        c.fill_rect(bx0, min(t, zero), bx1, max(t, zero), _BAR)


def draw_text_panel(c: Canvas, x0, y0, x1, y1, title: str, lines: list[str]) -> None:
    c.rect(x0, y0, x1, y1, _AXIS)
    c.text(x0 + 4, y0 + 3, title, _TITLE)
    for i, ln in enumerate(lines):
        yy = y0 + 16 + i * 10
        if yy + 7 > y1:
            break
        c.text(x0 + 4, yy, ln[: (x1 - x0 - 8) // 6], _AXIS)


def parse_png_header(data: bytes) -> tuple[int, int]:
    """(width, height) from PNG bytes — the pytest round-trip check."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    assert data[12:16] == b"IHDR"
    w, h = struct.unpack(">II", data[16:24])
    return w, h


def decode_png_pixels(data: bytes) -> bytes:
    """Inflate the IDAT stream of an indexed-color PNG (bit depth 1, 2,
    4 or 8, filter 0) and expand its palette indexes back to raw RGB —
    validates the encoder against an independent reader."""
    w, h = parse_png_header(data)
    depth, ctype = data[24], data[25]
    assert ctype == 3 and depth in (1, 2, 4, 8), "only indexed color is emitted"
    idat, plte = b"", b""
    off = 8
    while off < len(data):
        (ln,) = struct.unpack(">I", data[off : off + 4])
        tag = data[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += data[off + 8 : off + 8 + ln]
        elif tag == b"PLTE":
            plte = data[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    per = 8 // depth
    stride = -(-w // per)
    mask = (1 << depth) - 1
    # field k of every byte, as a byte: one translate table per field
    fields = [
        bytes(b >> depth * (per - 1 - k) & mask for b in range(256)) for k in range(per)
    ]
    idx = bytearray()
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        assert row[0] == 0, "only filter 0 is emitted"
        unpacked = bytearray(stride * per)
        for k, table in enumerate(fields):
            unpacked[k::per] = row[1:].translate(table)
        idx += unpacked[:w]
    out = bytearray(3 * w * h)
    for ch in range(3):
        channel = plte[ch::3].ljust(256, b"\x00")
        out[ch::3] = idx.translate(channel)
    return bytes(out)
