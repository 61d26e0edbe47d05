"""Dashboard rendering layer (reference dashboard_calidad_aire.py:64-254).

The reference collects the WHOLE hourly table into pandas and computes
six chart panels driver-side. The engine inverts that: each panel's
relation is one of the distributed dashboard operators (kpis, rolling
mean, day-of-week distribution, station compare, hourly pattern,
correlation matrix) and only chart-ready rows reach the driver. Five
panels reduce to a few hundred rows at any scale; the rolling-mean
panel does not reduce — it collects one value per event row, so
``render_png`` collects only its drawn ``rolling_mean`` column.

Rendering proper is import-gated: with matplotlib present,
``render_png`` draws the reference's multi-panel layout
(dashboard:70-254); without it, ``export_csv`` hands the same six
relations to any external BI/plotting tool, which is the engine-shaped
contract anyway. The data side is always real and tested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def chart_relations(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The six chart-ready relations, straight from the registered
    dashboard queries (each oracle-verified on its own)."""
    from .. import registry

    qs = registry.queries()
    names = [
        "dash_kpis",
        "dash_rolling_mean",
        "dash_dow_distribution",
        "dash_station_compare",
        "dash_hourly_pattern",
        "dash_corr_matrix",
    ]
    return {n: qs[n](spark, sf_dir) for n in names}


def export_csv(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Write each chart relation as a single CSV (these are tiny,
    chart-sized outputs — coalesce(1) is correct here, not a smell)."""
    paths = {}
    for name, df in chart_relations(spark, sf_dir).items():
        p = os.path.join(out_dir, name)
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(p)
        paths[name] = p
    return paths


def _collect_panels(spark: SparkSession, sf_dir: str) -> dict:
    """:func:`chart_relations` as pandas frames for drawing. The
    rolling-mean panel draws only its last column, one value per event
    row, so only ``rolling_mean`` is collected from it."""
    rels = chart_relations(spark, sf_dir)
    rels["dash_rolling_mean"] = rels["dash_rolling_mean"].select("rolling_mean")
    return {k: v.toPandas() for k, v in rels.items()}


def render_png(spark: SparkSession, sf_dir: str, out_path: str) -> str:
    """Multi-panel PNG like the reference's create_dashboard_plots
    (dashboard_calidad_aire.py:246-254). With matplotlib present it
    draws the reference's layout; without it (this container) the
    stdlib-only rasterizer in :mod:`rasterize` draws the same six
    panels — plainer, but real PNG bytes either way, and the relations
    come from :func:`chart_relations` in both paths."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        return _render_png_builtin(spark, sf_dir, out_path)

    rels = _collect_panels(spark, sf_dir)

    fig, axes = plt.subplots(3, 2, figsize=(18, 14))  # pragma: no cover
    (ax_kpi, ax_roll), (ax_dow, ax_station), (ax_hour, ax_corr) = axes
    kpi = rels["dash_kpis"].iloc[0]
    ax_kpi.axis("off")
    ax_kpi.text(0.02, 0.5, " | ".join(f"{k}={v}" for k, v in kpi.items()), fontsize=10)
    roll = rels["dash_rolling_mean"]
    ax_roll.plot(range(len(roll)), roll.iloc[:, -1])
    ax_roll.set_title("rolling mean")
    dow = rels["dash_dow_distribution"]
    ax_dow.bar(dow.iloc[:, 0].astype(str), dow.iloc[:, 1])
    ax_dow.set_title("day-of-week")
    st = rels["dash_station_compare"].head(20)
    ax_station.bar(st.iloc[:, 0].astype(str), st.iloc[:, 1])
    ax_station.set_title("stations")
    hr = rels["dash_hourly_pattern"].sort_values(hr_col := "hour")
    ax_hour.plot(hr[hr_col], hr.iloc[:, 1])
    ax_hour.set_title("hourly pattern")
    corr = rels["dash_corr_matrix"]
    ax_corr.axis("off")
    ax_corr.table(cellText=corr.round(3).values.tolist(), loc="center")
    ax_corr.set_title("correlations")
    fig.tight_layout()
    fig.savefig(out_path, dpi=120)
    plt.close(fig)
    return out_path


def _render_png_builtin(spark: SparkSession, sf_dir: str, out_path: str) -> str:
    """The six-panel layout on the stdlib rasterizer: KPI text panel,
    rolling-mean line, day-of-week bars, station bars, hourly line,
    correlation text grid — same panel order as the matplotlib path."""
    from . import rasterize as rz

    rels = _collect_panels(spark, sf_dir)
    W, H, cols, rows, pad = 900, 700, 2, 3, 10
    pw, ph = (W - pad * (cols + 1)) // cols, (H - pad * (rows + 1)) // rows
    c = rz.Canvas(W, H)

    def cell(r, col):
        x0 = pad + col * (pw + pad)
        y0 = pad + r * (ph + pad)
        return x0, y0, x0 + pw, y0 + ph

    kpi = rels["dash_kpis"].iloc[0]
    rz.draw_text_panel(
        c, *cell(0, 0), "KPIS", [f"{k} {v}" for k, v in kpi.items()]
    )
    roll = rels["dash_rolling_mean"]
    rz.draw_line_panel(
        c, *cell(0, 1), "ROLLING MEAN",
        [float(v) for v in roll.iloc[:, -1].dropna().tolist()],
    )
    dow = rels["dash_dow_distribution"]
    rz.draw_bar_panel(
        c, *cell(1, 0), "DAY OF WEEK", [float(v) for v in dow.iloc[:, 1].tolist()]
    )
    st = rels["dash_station_compare"].head(20)
    rz.draw_bar_panel(
        c, *cell(1, 1), "STATIONS", [float(v) for v in st.iloc[:, 1].tolist()]
    )
    hr = rels["dash_hourly_pattern"].sort_values("hour")
    rz.draw_line_panel(
        c, *cell(2, 0), "HOURLY PATTERN", [float(v) for v in hr.iloc[:, 1].tolist()]
    )
    corr = rels["dash_corr_matrix"]
    rz.draw_text_panel(
        c, *cell(2, 1), "CORRELATIONS",
        [" ".join(str(x) for x in row) for row in corr.round(3).values.tolist()],
    )
    with open(out_path, "wb") as fh:
        fh.write(c.to_png())
    return out_path
