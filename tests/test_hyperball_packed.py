"""Packed-register HyperBall: registers against the pure-Python oracle
at several precisions, operation beyond the DuckDB oracles' log2m
ceiling, NF against independent estimators, fixpoint convergence."""

from __future__ import annotations

import duckdb
import pytest

from webgraph_big_spark.algorithms.hyperball import (
    hyperball,
    hyperball_nf_sql,
    hyperball_registers,
)
from webgraph_big_spark.graph import Graph
from tests.oracle import hll_estimate, hll_registers_oracle

PAIRS = [(i, (i * 7 + 3) % 60) for i in range(60)] + [(i, (i + 1) % 60) for i in range(60)]


@pytest.fixture(scope="module")
def small_graph(spark):
    g = Graph.from_pairs(spark, PAIRS, num_nodes=60)
    g.edges = g.edges.localCheckpoint(eager=True)
    return g


@pytest.mark.parametrize("log2m", [4, 6, 8])
def test_packed_registers_match_oracle(small_graph, log2m):
    """Bit-sliced row merge must produce exactly the register vectors of
    the pure-Python oracle (same hash, same j/rho, same maxes)."""
    got = {
        r["id"]: [int(v) for v in r["regs_csv"].split(",")]
        for r in hyperball_registers(small_graph, 3, log2m=log2m).collect()
    }
    assert got == hll_registers_oracle(PAIRS, range(60), 3, log2m=log2m)


def test_packed_beyond_column_ceiling(spark):
    """log2m=13 (m=8192): beyond the unrolled oracles' limit (``_cfg``
    refuses it, their SQL spells one column per register); the packed
    engine runs — rows scale, plan width does not."""
    from webgraph_big_spark.algorithms.hyperball import _cfg

    with pytest.raises(ValueError):
        _cfg(13)
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)], num_nodes=3)
    out = hyperball_registers(g, 2, log2m=13).collect()
    assert len(out) == 3
    for r in out:
        vals = r["regs_csv"].split(",")
        assert len(vals) == 8192
        assert any(v != "0" for v in vals)


def test_packed_nf_parity(small_graph):
    """NF(t) equals the HLL estimate summed over the oracle's registers
    (to float round-off: the engine folds per-row partials) and the
    DuckDB oracle's NF at 3 dp, as the ``hyperball_packed_nf_g2`` gate
    compares them.  At m=64, t=3 every ball is small enough for the
    linear-counting branch; at m=16, t=6 every node's estimate takes
    the raw α·m²/Σ2^-r branch."""
    values = ", ".join(f"({s}, {d})" for s, d in PAIRS)
    edge_sql = f"SELECT * FROM (VALUES {values}) AS v(src, dst)"
    for t_max, log2m in [(3, 6), (6, 4)]:
        got = {r["t"]: r["nf"] for r in hyperball(small_graph, t_max, log2m=log2m).collect()}
        assert sorted(got) == list(range(t_max + 1))
        for t in got:
            regs = hll_registers_oracle(PAIRS, range(60), t, log2m=log2m)
            want = sum(hll_estimate(r) for r in regs.values())
            assert got[t] == pytest.approx(want, rel=1e-9)
        with duckdb.connect() as con:
            duck = dict(con.execute(hyperball_nf_sql(edge_sql, t_max, log2m=log2m)).fetchall())
        assert {t: round(v, 3) for t, v in got.items()} == duck


def test_packed_converges_with_t_max_none(small_graph):
    """``t_max=None`` runs to the register fixpoint (the slow tests'
    convergence criterion): the final NF equals a long bounded run's and
    the last two rounds agree (registers stopped changing)."""
    conv = sorted(
        (r["t"], r["nf"]) for r in hyperball(small_graph, None, log2m=5).collect()
    )
    bounded = sorted(
        (r["t"], r["nf"]) for r in hyperball(small_graph, 30, log2m=5).collect()
    )
    assert conv[-1][1] == pytest.approx(bounded[-1][1], rel=1e-9)
    assert conv[-1][0] <= 30
    assert conv[-1][1] == pytest.approx(conv[-2][1], rel=1e-9)
