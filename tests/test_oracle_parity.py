"""The DuckDB oracle-parity sweep as pytest — SURVEY §5's claim, made
true: ``pytest tests/`` now fails on any parity regression instead of
parity living only in the manually-run ``tools/compare.py``.

One test per registered oracle at sf0.001 (the smallest SF; cross-SF
parity up to sf0.1 was proven in round 2, so the small SF is a
regression tripwire, not the whole proof). Deselect with
``-m "not oracle"`` when iterating on something unrelated.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

from calidad_del_aire_etl_spark import oracle  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")
# Escalation SF for queries whose oracle answer is degenerate (empty /
# all-NULL measures) at the sweep SF — a vacuous hash match there proves
# nothing (round-11's q19 shipped 10^4x wrong through that hole).
SF_ESC = os.environ.get("SPARK_GRAFT_ORACLE_SF2_DIR", "/root/testdata/sf0.01")

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = oracle.duck_connection(SF)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_esc():
    con = oracle.duck_connection(SF_ESC)
    yield con
    con.close()


@pytest.mark.oracle
@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_hash_parity(spark, duck, duck_esc, name):
    # out= hands back the twin frame the comparison already fetched, so
    # the degeneracy check costs no second twin execution (ADVICE r12 —
    # the quadratic dedup twins made the re-run painful)
    got: dict = {}
    n, problems = oracle.compare_query(
        spark, duck, _QUERIES[name], _ORACLES[name], SF, out=got
    )
    assert not problems, f"{name}: {'; '.join(problems)}"
    if oracle.degenerate_frame(got["oracle_df"]):
        # Vacuous pass at the sweep SF — re-prove at the larger SF
        # where the answer actually discriminates.
        got_esc: dict = {}
        n, problems = oracle.compare_query(
            spark, duck_esc, _QUERIES[name], _ORACLES[name], SF_ESC, out=got_esc
        )
        assert not problems, (
            f"{name} (escalated to {SF_ESC}; degenerate at {SF}): "
            f"{'; '.join(problems)}"
        )
        assert not oracle.degenerate_frame(got_esc["oracle_df"]), (
            f"{name}: oracle result degenerate at BOTH {SF} and {SF_ESC} — "
            "the parity sweep proves nothing for this query; pin it with "
            "a non-degenerate fixture or a dedicated test"
        )


@pytest.mark.oracle
@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_still_run(spark, duck, name):
    """The by-design rows-only queries (true sketches / iterative
    fixpoints — down to 3 after the r13 promotions of ann_graph_topk,
    ann_graph_insert, hll_rollup_merge, cms_user_counts, and
    bloom_ingest_dedup: what remains is an eigendecomposition
    (embed_pca_project), the image-decode seam (mm_phash_dedup), and
    Spark-native sketch internals (sketch_profile)) must at least
    execute and return a frame; their guarantees are pinned by their
    own pytest modules."""
    n, problems = oracle.compare_query(spark, duck, _QUERIES[name], None, SF)
    assert not problems
    assert n >= 0


def test_sweep_catches_an_injected_mismatch(spark, duck):
    """Self-test of the gate itself: a deliberately wrong oracle must be
    reported as a hash mismatch (guards against the comparator silently
    passing everything)."""
    fn = _QUERIES["etl_daily_summary"]
    broken = _ORACLES["etl_daily_summary"].replace("AVG(", "MIN(", 1)
    assert broken != _ORACLES["etl_daily_summary"]
    n, problems = oracle.compare_query(spark, duck, fn, broken, SF)
    assert problems, "comparator failed to flag a wrong oracle"


def test_twin_timeout_reports_dnf_and_spares_shared_connection(spark, duck):
    """A twin that overruns ``twin_timeout`` is interrupted on its own
    connection: one TIMEOUT problem, and the shared connection passed in
    still answers."""
    slow = "SELECT SUM(a.range * b.range) FROM range(100000) a, range(100000) b"
    n, problems = oracle.compare_query(
        spark, duck, lambda s, _sf: s.range(1), slow, SF, twin_timeout=0.2
    )
    assert n == 1
    assert len(problems) == 1 and problems[0].startswith("TIMEOUT"), problems
    assert duck.execute("SELECT 1").fetchall() == [(1,)]


def test_norm_frame_canonicalizes_negative_zero():
    """Numerically-equal frames must hash equal: DuckDB's ROUND emits
    −0.0 where Spark's never does (r12 sf1 sweep class #2)."""
    import pandas as pd

    a = pd.DataFrame({"x": [0.0, 1.5, float("nan")]})
    b = pd.DataFrame({"x": [-0.0, 1.5, float("nan")]})
    assert oracle.value_hash(a) == oracle.value_hash(b)
    # sign canonicalization must not perturb real values or NaNs
    n = oracle.norm_frame(b.copy())
    assert str(n["x"][0]) == "0.0" and n["x"][1] == 1.5
    assert n["x"].isna()[2]


def test_cosine_twins_bit_identical_on_float32(spark, duck):
    """The r12 sf1 sweep's class-#3 lesson, pinned at unit scale: the
    DuckDB cosine twin must reproduce Spark's float32-product /
    double-sequential-accumulation fold bit-for-bit on float32 vectors
    whose pairwise-order dot differs (the old list_dot_product form
    diverged at the 8th decimal on exactly such inputs)."""
    import numpy as np
    import pandas as pd
    import duckdb

    from calidad_del_aire_etl_spark.operators.dedup import (
        COSINE_DUCK,
        COSINE_SPARK,
    )

    rng = np.random.RandomState(7)
    rows = []
    for i in range(20):
        v = rng.uniform(-1, 1, 64).astype(np.float32)
        w = (v + rng.uniform(-0.005, 0.005, 64).astype(np.float32)).astype(
            np.float32
        )
        rows.append((i, [float(x) for x in v], [float(x) for x in w]))
    pdf = pd.DataFrame(rows, columns=["i", "a", "b"])
    sdf = spark.createDataFrame(pdf, "i long, a array<float>, b array<float>")
    got = {
        r["i"]: r["c"]
        for r in sdf.selectExpr(
            "i", f"{COSINE_SPARK.format(a='a', b='b')} AS c"
        ).collect()
    }
    con = duckdb.connect()
    con.register("pairs_pd", pdf)
    con.execute(
        "CREATE VIEW pairs AS SELECT i, CAST(a AS FLOAT[]) AS a,"
        " CAST(b AS FLOAT[]) AS b FROM pairs_pd"
    )
    want = dict(
        con.execute(
            f"SELECT i, {COSINE_DUCK.format(a='a', b='b')} FROM pairs"
        ).fetchall()
    )
    assert got == want  # exact float equality, not approx
