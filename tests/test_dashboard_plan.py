"""Dashboard rendering layer: chart relations, CSV export and the stdlib PNG."""

from __future__ import annotations

import os

import pytest

from calidad_del_aire_etl_spark import oracle, registry, session
from calidad_del_aire_etl_spark.plans import dashboard

SF = "/root/testdata/sf0.001"

# Spark jobs per render_png: the shared cells' map stage (1), the packed
# collect of the five chart-sized panels (4: the kpis, day-of-week and
# correlation exchanges' map stages plus one result job) and the
# rolling-mean collect (2). Six standalone panel queries took 16, and
# one action per panel took 11.
RENDER_JOBS = 7

# SHA-256 of render_png's pixels decoded to RGB, pinned from the 8-bit
# RGB encoder that the indexed-color one replaced: the palette changes
# the bytes on disk, never a drawn pixel.
PIXEL_SHA256 = {
    "sf0.001": "a862935e0c748e2b44797367b553564523713341e9e237088bde24e3dd99b1a1",
    "null_value_sf": "81e23837cd4321940cd40c49802cca6679b6eb1c4d4a556ceb0b8fa7bdfc3547",
    "empty_sf": "58cbc5ddf6442303e636a80abff067ba81d62ba9f934cbb6b1e01b552d7542da",
}


def _events_variant(tmp_path_factory, name, edit):
    """A copy of SF whose events table is ``edit(table)``; the other
    tables are symlinked."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp(name)
    for t in oracle.TABLES:
        src = f"{SF}/{t}.parquet"
        if t != "events" and os.path.exists(src):
            os.symlink(src, d / f"{t}.parquet")
    pq.write_table(edit(pq.read_table(f"{SF}/events.parquet")), d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def null_value_sf(tmp_path_factory):
    """SF with every ``events.value`` NULL."""
    import pyarrow as pa

    def edit(tbl):
        i = tbl.schema.get_field_index("value")
        return tbl.set_column(i, tbl.schema.field(i), pa.nulls(len(tbl), pa.float64()))

    return _events_variant(tmp_path_factory, "sf_null_value", edit)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """SF with a zero-row events table."""
    return _events_variant(tmp_path_factory, "sf_empty", lambda tbl: tbl.slice(0, 0))


def test_chart_relations_are_chart_sized(spark):
    rels = dashboard.chart_relations(spark, SF)
    assert set(rels) == {
        "dash_kpis",
        "dash_rolling_mean",
        "dash_dow_distribution",
        "dash_station_compare",
        "dash_hourly_pattern",
        "dash_corr_matrix",
    }
    assert rels["dash_kpis"].count() == 1
    assert rels["dash_dow_distribution"].count() == 7
    assert rels["dash_corr_matrix"].count() == 6


def test_chart_relations_equal_their_registry_queries(spark):
    """The four panels derived from the shared cells are the same rows
    as their own registry queries (and the two standalone panels are
    those queries)."""
    rels = dashboard.chart_relations(spark, SF)
    qs = registry.queries()
    for name, df in rels.items():
        got, want = df.toPandas(), qs[name](spark, SF).toPandas()
        assert list(got.columns) == list(want.columns), name
        assert list(got.dtypes) == list(want.dtypes), name
        cols = list(got.columns)
        got = got.sort_values(cols).reset_index(drop=True)
        want = want.sort_values(cols).reset_index(drop=True)
        assert got.equals(want), name


@pytest.mark.parametrize("table", ["sf_dir", "null_value_sf"])
def test_collect_packed_equals_each_relations_to_pandas(spark, table, request):
    """The one-action collect of the five chart-sized panels (all but
    the rolling mean) yields, per panel, that relation's own
    toPandas(): same columns, dtypes and rows (sorted, since each
    collect may order rows differently)."""
    rels = dashboard.chart_relations(spark, request.getfixturevalue(table))
    del rels["dash_rolling_mean"]
    packed = dashboard.collect_packed(rels)
    assert list(packed) == list(rels)
    for name, got in packed.items():
        want = rels[name].toPandas()
        assert list(got.columns) == list(want.columns), name
        assert list(got.dtypes) == list(want.dtypes), name
        cols = list(got.columns)
        got = got.sort_values(cols).reset_index(drop=True)
        want = want.sort_values(cols).reset_index(drop=True)
        assert got.equals(want), name


def test_kpis_match_the_twin_on_an_all_null_value_column(spark, null_value_sf):
    """Every day's mean is NULL, so no day is unhealthy: 0 days and
    0.0 %, as the twin's CASE ... ELSE 0 gives (not NULL)."""
    con = oracle.duck_connection(null_value_sf)
    try:
        n, problems = oracle.compare_query(
            spark, con, registry.queries()["dash_kpis"],
            registry.oracle_sql()["dash_kpis"], null_value_sf,
        )
    finally:
        con.close()
    assert problems == [], problems
    assert n == 1


@pytest.mark.parametrize("table", ["null_value_sf", "empty_sf"])
def test_render_png_draws_null_and_empty_tables(spark, table, request, tmp_path):
    """NULL means draw no bar or point, and a KPI relation without a
    row draws a titled panel: the PNG still decodes at full size."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    sf = request.getfixturevalue(table)
    out = dashboard.render_png(spark, sf, str(tmp_path / "dash.png"))
    data = open(out, "rb").read()
    assert rz.parse_png_header(data) == (900, 700)
    assert len(rz.decode_png_pixels(data)) == 900 * 700 * 3


@pytest.mark.parametrize("table", list(PIXEL_SHA256))
def test_render_png_pixels_match_their_pinned_hash(spark, table, request, tmp_path):
    import hashlib

    from calidad_del_aire_etl_spark.plans import rasterize as rz

    sf = SF if table == "sf0.001" else request.getfixturevalue(table)
    out = dashboard.render_png(spark, sf, str(tmp_path / "dash.png"))
    data = open(out, "rb").read()
    assert hashlib.sha256(rz.decode_png_pixels(data)).hexdigest() == PIXEL_SHA256[table]


def test_render_png_starts_the_benchmarked_job_count(spark, jobs_started, tmp_path):
    out = str(tmp_path / "dash.png")
    dashboard.render_png(spark, SF, out)  # warm-up: schema memo, codegen
    _, jobs = jobs_started(lambda: dashboard.render_png(spark, SF, out))
    assert len(jobs) == RENDER_JOBS < 11


def test_render_png_bytes_do_not_depend_on_shuffle_layout(spark, tmp_path):
    """Bars and lines are drawn in data order, not in the order the
    shuffle emits rows: the PNG is byte-identical for any number of
    shuffle partitions."""
    pngs = set()
    for n in (1, 3, 8):
        out = tmp_path / f"dash-{n}.png"
        with session.scoped_conf(spark, "spark.sql.shuffle.partitions", str(n)):
            dashboard.render_png(spark, SF, str(out))
        pngs.add(out.read_bytes())
    assert len(pngs) == 1


def test_render_png_produces_real_png_without_matplotlib(spark, tmp_path):
    """The stdlib rasterizer draws the dashboard: the output must be a
    decodable PNG of the declared size with actual chart ink
    (non-background pixels), proving the six panels drew from real
    relations end-to-end."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    out = dashboard.render_png(spark, SF, str(tmp_path / "dash.png"))
    data = open(out, "rb").read()
    w, h = rz.parse_png_header(data)
    assert (w, h) == (900, 700)
    pixels = rz.decode_png_pixels(data)
    assert len(pixels) == w * h * 3
    non_white = sum(
        1 for i in range(0, len(pixels), 3) if pixels[i : i + 3] != b"\xff\xff\xff"
    )
    assert non_white > 2000  # borders + titles + series actually drew


def test_rasterizer_round_trip_and_primitives(tmp_path):
    """Pure-python PNG encoder sanity, no Spark: what we draw is what an
    independent decode reads back."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    c = rz.Canvas(40, 30, bg=(255, 255, 255))
    c.fill_rect(2, 2, 10, 8, (255, 0, 0))
    c.line(0, 0, 39, 29, (0, 0, 255))
    c.text(12, 12, "A1", (0, 128, 0))
    data = c.to_png()
    assert rz.parse_png_header(data) == (40, 30)
    px = rz.decode_png_pixels(data)

    def at(x, y):
        i = (y * 40 + x) * 3
        return tuple(px[i : i + 3])

    assert at(5, 5) == (255, 0, 0)      # inside the filled rect
    assert at(0, 0) == (0, 0, 255)      # line start
    assert at(39, 29) == (0, 0, 255)    # line end
    assert at(39, 0) == (255, 255, 255)  # untouched background
    # the glyph painted something green in its cell
    greens = sum(
        1 for x in range(12, 24) for y in range(12, 19) if at(x, y) == (0, 128, 0)
    )
    assert greens > 5


@pytest.mark.parametrize("n_colors, depth", [(2, 1), (4, 2), (16, 4), (17, 8)])
def test_palette_round_trip_at_each_bit_depth(n_colors, depth):
    """The PNG takes the smallest bit depth that holds the palette, and
    decodes back to the colors drawn. A width of 13 is no multiple of
    any pixels-per-byte count, so every packed row is padded."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    w, h = 13, 5
    colors = [(k, 255 - k, 7 * k % 256) for k in range(n_colors)]
    c = rz.Canvas(w, h, bg=colors[0])
    want = []
    for y in range(h):
        for x in range(w):
            want.append(colors[(5 * x + 3 * y) % n_colors])
            c.set(x, y, want[-1])
    assert len(c.palette) == n_colors
    data = c.to_png()
    assert data[24] == depth  # the IHDR bit depth
    px = rz.decode_png_pixels(data)
    assert [tuple(px[i : i + 3]) for i in range(0, len(px), 3)] == want


def test_canvas_refuses_a_257th_color():
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    c = rz.Canvas(300, 1)
    for k in range(255):
        c.set(k, 0, (k, 0, 1))
    assert len(c.palette) == 256
    c.set(0, 0, (7, 0, 1))  # a color already in the palette still draws
    with pytest.raises(ValueError, match="257th"):
        c.set(299, 0, (1, 2, 3))


def test_span_writes_clip_like_set():
    """hline, vline, fill_rect and rect write whole spans; partly or
    wholly off the canvas they paint exactly the pixels a per-pixel
    ``set`` loop paints."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    red = (255, 0, 0)
    shapes = {
        "hline": [(-5, 25, 3), (30, 40, 3), (4, -2, 9), (4, 8, -1), (2, 2, 10)],
        "vline": [(7, -3, 14), (-1, 0, 9), (19, 9, 0), (20, 0, 9), (3, 10, 12)],
        "fill_rect": [(15, 8, 25, 12), (-4, -4, 1, 2), (5, 5, 5, 5), (21, 0, 30, 9)],
        "rect": [(-2, -2, 5, 5), (12, 3, 30, 30)],
    }

    def pixels(name, args):
        if name == "hline":
            x0, x1, y = args
            return [(x, y) for x in range(min(x0, x1), max(x0, x1) + 1)]
        if name == "vline":
            x, y0, y1 = args
            return [(x, y) for y in range(min(y0, y1), max(y0, y1) + 1)]
        x0, y0, x1, y1 = args
        xs, ys = range(min(x0, x1), max(x0, x1) + 1), range(min(y0, y1), max(y0, y1) + 1)
        if name == "fill_rect":
            return [(x, y) for x in xs for y in ys]
        return [(x, y) for x in xs for y in ys if x in (x0, x1) or y in (y0, y1)]

    for name, cases in shapes.items():
        for args in cases:
            got, want = rz.Canvas(20, 10), rz.Canvas(20, 10)
            getattr(got, name)(*args, red)
            for x, y in pixels(name, args):
                want.set(x, y, red)
            got_px = rz.decode_png_pixels(got.to_png())
            assert got_px == rz.decode_png_pixels(want.to_png()), (name, args)


def test_bar_panel_draws_negative_bars_from_zero_line():
    """Bars must extend from the zero line, not the panel bottom: a
    negative value hangs below zero, a positive one rises above it."""
    from calidad_del_aire_etl_spark.plans import rasterize as rz

    c = rz.Canvas(120, 80)
    rz.draw_bar_panel(c, 0, 0, 119, 79, "T", [-5.0, 10.0])
    px = rz.decode_png_pixels(c.to_png())

    def at(x, y):
        i = (y * 120 + x) * 3
        return tuple(px[i : i + 3])

    py0, py1 = 14, 75  # same plot region the panel computes
    pts = rz._scale_to([-5.0, 10.0, 0.0], py1, py0)
    neg_top, pos_top, zero = pts
    bar = (255, 127, 14)
    # negative bar (first slot) paints strictly below the zero line...
    assert any(at(6, y) == bar for y in range(zero, neg_top + 1))
    # ...and nothing above it; positive bar (second slot) the reverse
    assert not any(at(6, y) == bar for y in range(py0, zero))
    xpos = 4 + (119 - 4 - 4) // 2 + 2
    assert any(at(xpos, y) == bar for y in range(pos_top, zero + 1))
    assert not any(at(xpos, y) == bar for y in range(zero + 1, py1 + 1))


def test_line_panel_matches_per_segment_bresenham():
    """draw_line_panel draws one vline per pixel column plus Bresenham
    between columns; it must paint exactly the pixels of the plain
    per-segment loop, kept here as the reference."""
    import random

    from calidad_del_aire_etl_spark.plans import rasterize as rz

    def reference(c, x0, y0, x1, y1, title, ys):
        c.rect(x0, y0, x1, y1, rz._AXIS)
        c.text(x0 + 4, y0 + 3, title, rz._TITLE)
        if not ys:
            return
        px0, px1, py0, py1 = x0 + 4, x1 - 4, y0 + 14, y1 - 4
        xs = rz._scale_to(list(range(len(ys))), px0, px1) if len(ys) > 1 else [(px0 + px1) // 2]
        yy = rz._scale_to(ys, py1, py0)
        for i in range(len(ys) - 1):
            c.line(xs[i], yy[i], xs[i + 1], yy[i + 1], rz._SERIES)
        if len(ys) == 1:
            c.set(xs[0], yy[0], rz._SERIES)

    rng = random.Random(7)
    walk = [0.0]
    for _ in range(4999):
        walk.append(walk[-1] + rng.uniform(-1, 1))
    cases = {
        "empty": [],
        "one": [3.0],
        "two": [1.0, 2.0],
        "sparse": [rng.uniform(-5, 5) for _ in range(50)],
        "dense": walk,  # far more points than the ~430 pixel columns
        "constant": [2.5] * 1000,
    }
    for name, ys in cases.items():
        got, want = rz.Canvas(440, 230), rz.Canvas(440, 230)
        rz.draw_line_panel(got, 0, 0, 439, 229, "T", ys)
        reference(want, 0, 0, 439, 229, "T", ys)
        # decoded, so the comparison does not depend on palette order
        got_px = rz.decode_png_pixels(got.to_png())
        assert got_px == rz.decode_png_pixels(want.to_png()), name
