"""The shared iteration paths in ``webgraph_big_spark.checkpoint``: the
durable-checkpoint protocol (torn directories, retention) as PageRank and
SCC FW-BW use it, the frontier loop past its truncation period, pin
release, the broadcast budget and total peeling."""

from __future__ import annotations

import importlib
import os

import numpy as np
import pytest

from tests.oracle import pagerank_oracle, scc_oracle
from webgraph_big_spark import checkpoint, synth
from webgraph_big_spark.graph import Graph
from webgraph_big_spark.session import broadcast_threshold
from webgraph_big_spark.algorithms.bfs import bfs_distances
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.scc import (
    _peel_trivial,
    strongly_connected_components_fwbw,
    trim,
)

# the modules themselves (``algorithms`` re-exports a function named pagerank)
bfs_mod = importlib.import_module("webgraph_big_spark.algorithms.bfs")
pagerank_mod = importlib.import_module("webgraph_big_spark.algorithms.pagerank")
scc_mod = importlib.import_module("webgraph_big_spark.algorithms.scc")


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


def _labels(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def _cached(spark):
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


# directed 30-cycle with an out-tail 29→30→31→32 and an in-tail 33→34→0
CYCLE_TAIL = np.concatenate(
    [synth.cycle(30), np.array([(29, 30), (30, 31), (31, 32), (33, 34), (34, 0)])]
)
# five 2-cycles {2k, 2k+1}, each with an arc into the next lower one: ids
# decrease along the chain, so coloring resolves one SCC per outer round
CHAIN5 = [(2 * k, 2 * k + 1) for k in range(5)] + [(2 * k + 1, 2 * k) for k in range(5)]
CHAIN5 += [(2 * k + 2, 2 * k + 1) for k in range(4)]
CHAIN5_EXPECTED = {i: i - i % 2 for i in range(10)}


@pytest.mark.parametrize("giant_pivots", [1, 0])
def test_fwbw_long_cycle_with_tail(spark, giant_pivots):
    """29 levels of pivot reach (giant_pivots=1) or of the color-class
    member search (giant_pivots=0): both run past the truncation period."""
    got = _labels(strongly_connected_components_fwbw(_g(spark, CYCLE_TAIL, 35), giant_pivots=giant_pivots))
    want = scc_oracle(CYCLE_TAIL, 35)
    assert got == {i: int(want[i]) for i in range(35)}


def test_pagerank_resume_ignores_torn_checkpoint(spark, tmp_path):
    edges = synth.erdos_renyi(30, 0.2, seed=13)
    g = _g(spark, edges, 30)
    run_dir = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=6, run_dir=run_dir, checkpoint_every=3)
    # a writer killed after writing iteration 9's relation, before its manifest
    spark.createDataFrame([(i, 0.0) for i in range(30)], "id long, rank double").write.parquet(
        os.path.join(run_dir, "iter_000009", "state")
    )
    assert checkpoint.latest(run_dir) == 6
    got = np.zeros(30)
    for r in pagerank(g, fixed_iterations=12, run_dir=run_dir).collect():
        got[r["id"]] = r["rank"]
    assert np.allclose(got, pagerank_oracle(edges, 30, fixed_iterations=12), atol=1e-10)


def test_fwbw_resume_ignores_torn_checkpoint(spark, tmp_path):
    run_dir = str(tmp_path / "scc")
    g = _g(spark, CHAIN5, 10)
    with pytest.raises(RuntimeError, match="max_outer"):
        strongly_connected_components_fwbw(g, giant_pivots=0, max_outer=1, run_dir=run_dir)
    assert checkpoint.latest(run_dir) == 0
    # torn round 1: had resume read it, every node would come back labelled 0
    torn = os.path.join(run_dir, "iter_000001")
    spark.createDataFrame([(i, 0) for i in range(10)], "id long, comp long").write.parquet(
        os.path.join(torn, "done")
    )
    spark.createDataFrame([], "id long").write.parquet(os.path.join(torn, "nodes"))
    got = _labels(strongly_connected_components_fwbw(g, giant_pivots=0, run_dir=run_dir))
    assert got == CHAIN5_EXPECTED


def test_fwbw_keeps_last_three_checkpoints(spark, tmp_path):
    run_dir = str(tmp_path / "scc")
    rounds = []
    got = _labels(
        strongly_connected_components_fwbw(
            _g(spark, CHAIN5, 10), giant_pivots=0, run_dir=run_dir, progress=rounds.append
        )
    )
    assert got == CHAIN5_EXPECTED
    assert "outer 4: coloring" in rounds
    assert sorted(os.listdir(run_dir)) == ["iter_000002", "iter_000003", "iter_000004"]
    assert all(
        os.path.exists(os.path.join(run_dir, d, "manifest.json")) for d in os.listdir(run_dir)
    )


def test_loops_release_their_pins(spark, monkeypatch):
    g = _g(spark, CYCLE_TAIL, 35)
    before = _cached(spark)
    bfs_distances(g, [0]).collect()
    assert _cached(spark) == before
    strongly_connected_components_fwbw(g).collect()
    assert _cached(spark) == before
    with pytest.raises(RuntimeError, match="max_outer"):
        strongly_connected_components_fwbw(_g(spark, CHAIN5, 10), giant_pivots=0, max_outer=1)
    assert _cached(spark) == before

    def fail(*args, **kwargs):
        raise RuntimeError("level failed")

    monkeypatch.setattr(bfs_mod, "frontier_loop", fail)
    with pytest.raises(RuntimeError, match="level failed"):
        bfs_distances(g, [0])
    assert _cached(spark) == before
    # SCC's backward pin fails while the forward one is built
    real_pin = scc_mod.co_partitioned
    monkeypatch.setattr(
        scc_mod, "co_partitioned", lambda df, key: fail() if key == "dst" else real_pin(df, key)
    )
    with pytest.raises(RuntimeError, match="level failed"):
        strongly_connected_components_fwbw(g)
    assert _cached(spark) == before


def test_broadcast_threshold_drives_join_choice(spark, monkeypatch):
    """Spark parses the threshold (``1t`` was read as 1 byte by the old
    k/m/g-only parsers); PageRank broadcasts its rank side and SCC its
    peel core exactly when the session budget allows."""
    pins, cores = [], []
    real_pin, real_peel = pagerank_mod.co_partitioned, scc_mod._peel_trivial
    monkeypatch.setattr(
        pagerank_mod, "co_partitioned", lambda df, *keys, **kw: pins.append(keys) or real_pin(df, *keys, **kw)
    )
    monkeypatch.setattr(
        scc_mod, "_peel_trivial", lambda *a, **kw: cores.append(kw["broadcast_core"]) or real_peel(*a, **kw)
    )
    g = _g(spark, synth.cycle(6), 6)
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        for raw, budget, bcast in (("1t", 1 << 40, True), ("-1", -1, False)):
            spark.conf.set(key, raw)
            assert broadcast_threshold(spark) == budget
            pins.clear()
            cores.clear()
            ranks = [r["rank"] for r in pagerank(g, fixed_iterations=2).collect()]
            assert np.allclose(ranks, 1 / 6, atol=1e-12)
            assert pins == ([] if bcast else [("src",)])
            assert _labels(strongly_connected_components_fwbw(g)) == {i: 0 for i in range(6)}
            assert cores and set(cores) == {bcast}
    finally:
        spark.conf.set(key, orig)


def test_peel_zero_rounds(spark):
    g = _g(spark, [(0, 1), (1, 0), (1, 2)], 3)
    edges = g.edges.select("src", "dst")
    rest, nodes, peeled = _peel_trivial(edges, g.nodes(), max_rounds=0)
    assert sorted(rest.collect()) == sorted(edges.collect())
    assert sorted(nodes.collect()) == sorted(g.nodes().collect())
    assert peeled.isEmpty()
    assert sorted(trim(g, rounds=0).edges.collect()) == sorted(edges.collect())
    assert sorted(tuple(r) for r in trim(g, rounds=1).edges.collect()) == [(0, 1), (1, 0)]
