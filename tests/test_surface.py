"""The package's layers hold no entry point that only tests reach.

Walks the AST of ``sources/``, ``sinks/``, ``streaming/``, ``plans/``,
``operators/`` and ``functions/`` and fails on any top-level function,
private helpers included, that nothing references except ``tests/``. A
reference counts when it comes from the package, ``__spark_entry__.py``,
``bench.py``, ``tools/`` or ``perfbench/``, and not from inside another
function of these layers that is itself unreferenced: dead code keeps
none of its callees alive. Names are matched bare (a ``Name``, an
attribute or an imported name), so a same-named symbol elsewhere can
only hide a dead function, never report a live one. Parses no data and
starts no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "calidad_del_aire_etl_spark"
LAYERS = ("sources", "sinks", "streaming", "plans", "operators", "functions")

# Kept although only tests call them (ROADMAP item 7's keep rule).
ALLOWED = {
    # reference Load's PostgreSQL path (dag:323-359)
    "write_jdbc": "to_sql data plane of the reference's Load",
    "ensure_jdbc_table": "CREATE TABLE bootstrap of the reference's Load",
    # the plans' DAGs and the incremental corpus plan's two steps
    "air_quality_dag": "the reference's Airflow DAG (dag:409-441)",
    "corpus_curation_dag": "curate ≫ decontaminate ≫ chunk ≫ pack DAG",
    "bootstrap_corpus": "day 0 of the incremental corpus plan",
    "apply_daily_increment": "day N of the incremental corpus plan",
    # reference implementation that tests compare the fast path against
    "decode_png_pixels": "reference PNG decoder (palette)",
    "daily_rollup": "batch rollup of raw events that the stream rollup is checked against",
}


def _referenced(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreferenced() -> tuple[list[str], set[str]]:
    """(unreferenced functions, allowlisted names no layer defines)."""
    sources = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py"),
               *(ROOT / "perfbench").rglob("*.py"),
               ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    layer_files = {p for layer in LAYERS for p in (PKG / layer).glob("*.py")}
    candidates: dict[str, tuple[str, set[str]]] = {}  # name -> (where, refs)
    live: set[str] = set()
    for path in sources:
        for node in ast.parse(path.read_text()).body:
            if path in layer_files and isinstance(node, ast.FunctionDef):
                where = f"{path.relative_to(ROOT)}::{node.name}"
                candidates[node.name] = (where, _referenced(node) - {node.name})
            else:
                live |= _referenced(node)
    live |= set(ALLOWED)
    frontier = live & set(candidates)
    while frontier:
        reached = set().union(*(candidates[n][1] for n in frontier)) - live
        live |= reached
        frontier = reached & set(candidates)
    dead = sorted(where for name, (where, _) in candidates.items() if name not in live)
    return dead, set(ALLOWED) - set(candidates)


def test_layers_have_no_test_only_entry_points():
    assert _unreferenced() == ([], set())
