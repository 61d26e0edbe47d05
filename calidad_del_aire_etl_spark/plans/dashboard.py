"""Dashboard rendering layer (reference dashboard_calidad_aire.py:64-254).

The reference collects the WHOLE hourly table into pandas and computes
six chart panels driver-side. The engine inverts that: each panel's
relation is one of the distributed dashboard operators and only
chart-ready rows reach the driver. Like the reference, which derives
its KPI row, station bars, hourly line and correlation matrix from one
frame, four panels derive from ONE grouping-sets pass over the fact
(``analytics.dashboard_cells``, materialized once per call); the
rolling mean (a window over every row) and the day-of-week quartiles
(an exact percentile, which would push the shared pass onto a
sort-based aggregate) stay standalone queries.

Five panels reduce to a few hundred rows at any scale, and
``render_png`` collects those five in ONE action
(:func:`collect_packed`): a union of the tagged relations, split back
per panel driver-side, so the refresh pays one result job instead of
five. The rolling-mean panel does not reduce — it collects one value
per event row — so it stays a separate collect of only its group key
and drawn ``rolling_mean`` column: packed into the union, every one of
its rows would carry the other panels' (NULL) columns too.

``render_png`` draws the reference's six-panel layout (dashboard:70-254)
with the stdlib-only rasterizer in :mod:`rasterize`, the same bytes on
every host and every shuffle layout. The data side is always real and
tested.
"""

from __future__ import annotations

from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

_PANEL = "__panel"


def chart_relations(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The six chart-ready relations: one shared cells pass plus two
    standalone queries. The KPI, station, hourly and correlation panels
    derive from one lazily checkpointed ``events_cells`` over the union
    of their grouping sets, through the same derivations as their
    registered queries (each oracle-verified on its own); the rolling
    mean and day-of-week panels are their registered queries."""
    from .. import registry
    from ..queries import q02_dash
    from ..session import pin_oracle_compat

    pin_oracle_compat(spark)
    panels = q02_dash.CELL_PANELS
    sets = list(dict.fromkeys(s for need, _ in panels.values() for s in need))
    # lazy: the first panel's action fills the checkpoint, the other
    # three read its blocks instead of the fact
    cells = q02_dash.events_cells(spark, sf_dir, sets).localCheckpoint(eager=False)
    qs = registry.queries()
    names = [
        "dash_kpis",
        "dash_rolling_mean",
        "dash_dow_distribution",
        "dash_station_compare",
        "dash_hourly_pattern",
        "dash_corr_matrix",
    ]
    return {
        n: panels[n][1](cells) if n in panels else qs[n](spark, sf_dir) for n in names
    }


def collect_packed(rels: dict[str, DataFrame]) -> dict[str, pd.DataFrame]:
    """Collect several small relations with ONE action: tag each with
    its index in ``rels``, union them by name (a column one relation
    lacks is NULL in its rows) and collect the union as Arrow. Each
    relation's rows are then its tag's slice, cut back to its own
    columns and cast to its own Arrow schema, so each frame has the
    columns, dtypes and rows of that relation's ``toPandas()``. The
    slices keep each relation's row order: a union's partitions are its
    children's partitions in order."""
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    tagged = [df.withColumn(_PANEL, F.lit(i)) for i, df in enumerate(rels.values())]
    packed = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    table = packed.toArrow()
    out = {}
    for i, (name, df) in enumerate(rels.items()):
        part = table.filter(pc.equal(table[_PANEL], i)).select(df.columns)
        # the options DataFrame.toPandas passes on its Arrow path
        out[name] = part.cast(to_arrow_schema(df.schema)).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
    return out


def render_png(spark: SparkSession, sf_dir: str, out_path: str) -> str:
    """Multi-panel PNG like the reference's create_dashboard_plots
    (dashboard_calidad_aire.py:246-254), drawn by the stdlib-only
    rasterizer in :mod:`rasterize` from :func:`chart_relations`: KPI
    text panel, rolling-mean line, day-of-week bars, station bars,
    hourly line, correlation text grid.

    Two actions collect the six panels: :func:`collect_packed` brings
    the five chart-sized ones in one, and the rolling mean, which draws
    one value per event row, is collected on its own with only its
    ``user_id`` and ``rolling_mean`` columns (in the union each of its
    rows would widen to every panel's columns). A NULL mean draws no
    bar or point, and an empty KPI relation draws a titled panel with
    no lines.

    Every panel is drawn in an order fixed by the data, never by the
    shuffle: day-of-week bars by ``day_of_week``, the first 20 station
    bars by ``user_id``, the rolling-mean line user by user (a stable
    sort keeps each user's window order, ``(ts, event_id)``)."""
    import numpy as np

    from . import rasterize as rz

    rels = chart_relations(spark, sf_dir)
    roll = rels.pop("dash_rolling_mean").select("user_id", "rolling_mean").toArrow()
    rels = collect_packed(rels)
    W, H, cols, rows, pad = 900, 700, 2, 3, 10
    pw, ph = (W - pad * (cols + 1)) // cols, (H - pad * (rows + 1)) // rows
    c = rz.Canvas(W, H)

    def cell(r, col):
        x0 = pad + col * (pw + pad)
        y0 = pad + r * (ph + pad)
        return x0, y0, x0 + pw, y0 + ph

    kpi = rels["dash_kpis"]
    rz.draw_text_panel(
        c, *cell(0, 0), "KPIS",
        [f"{k} {v}" for k, v in kpi.iloc[0].items()] if len(kpi) else [],
    )
    # a NULL user_id is NaN here and sorts last, as in sort_values
    order = np.argsort(roll["user_id"].to_numpy(zero_copy_only=False), kind="stable")
    rz.draw_line_panel(
        c, *cell(0, 1), "ROLLING MEAN",
        roll["rolling_mean"].to_numpy(zero_copy_only=False)[order].tolist(),
    )
    dow = rels["dash_dow_distribution"].sort_values("day_of_week")
    rz.draw_bar_panel(
        c, *cell(1, 0), "DAY OF WEEK", [float(v) for v in dow.iloc[:, 1].tolist()]
    )
    st = rels["dash_station_compare"].sort_values("user_id").head(20)
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
