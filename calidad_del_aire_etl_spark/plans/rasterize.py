"""Dependency-free PNG chart rasterizer (stdlib only: zlib + struct).

The reference renders its dashboard with matplotlib
(dashboard_calidad_aire.py:246-254); the engine takes no plotting
dependency, so ``plans.dashboard.render_png`` draws with this module: a
tiny software rasterizer (RGB byte buffer, Bresenham lines, filled bars,
a 5x7 bitmap font for titles) and a from-scratch PNG encoder
(signature + IHDR + zlib'd filter-0 scanlines + IEND — the minimum the
spec requires). Charts come out plain but real: the bytes open in any
viewer, and pytest decodes them back to prove the pipeline end-to-end.

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
    """Dead-simple RGB raster: (0,0) is top-left, colors are (r,g,b)."""

    def __init__(self, width: int, height: int, bg=(255, 255, 255)):
        self.width = width
        self.height = height
        self.buf = bytearray(bytes(bg) * (width * height))

    def set(self, x: int, y: int, color) -> None:
        if 0 <= x < self.width and 0 <= y < self.height:
            i = (y * self.width + x) * 3
            self.buf[i : i + 3] = bytes(color)

    def hline(self, x0: int, x1: int, y: int, color) -> None:
        for x in range(min(x0, x1), max(x0, x1) + 1):
            self.set(x, y, color)

    def vline(self, x: int, y0: int, y1: int, color) -> None:
        for y in range(min(y0, y1), max(y0, y1) + 1):
            self.set(x, y, color)

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
        dx, dy = abs(x1 - x0), -abs(y1 - y0)
        sx, sy = (1 if x0 < x1 else -1), (1 if y0 < y1 else -1)
        err = dx + dy
        while True:
            self.set(x0, y0, color)
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
        cx = x
        for ch in s.upper():
            glyph = _FONT.get(ch, _FONT[" "])
            for col, bits in enumerate(glyph):
                for row in range(7):
                    if bits >> row & 1:
                        for dx in range(scale):
                            for dy in range(scale):
                                self.set(
                                    cx + col * scale + dx, y + row * scale + dy, color
                                )
            cx += (5 + 1) * scale

    def to_png(self) -> bytes:
        """Minimal spec-conforming PNG: 8-bit RGB, filter 0 scanlines."""

        def chunk(tag: bytes, payload: bytes) -> bytes:
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", self.width, self.height, 8, 2, 0, 0, 0)
        stride = self.width * 3
        raw = b"".join(
            b"\x00" + bytes(self.buf[y * stride : (y + 1) * stride])
            for y in range(self.height)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
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
    """Inflate the IDAT stream and strip filter-0 scanline bytes back to
    raw RGB — validates the encoder against an independent reader."""
    w, h = parse_png_header(data)
    idat = b""
    off = 8
    while off < len(data):
        (ln,) = struct.unpack(">I", data[off : off + 4])
        tag = data[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += data[off + 8 : off + 8 + ln]
        off += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3
    out = bytearray()
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        assert row[0] == 0, "only filter 0 is emitted"
        out += row[1:]
    return bytes(out)
