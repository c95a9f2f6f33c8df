"""Round-6 optimization invariants: the packed-engine centralities are
BIT-identical to golden outputs of the column-register engine (whose
float expressions the DuckDB oracle mirrors), stored in ``tests/data/``
with ``float.hex`` floats."""

from __future__ import annotations

import json
import os

import duckdb
from pyspark.sql import functions as F

from webgraph_big_spark.graph import Graph
from webgraph_big_spark import synth
from webgraph_big_spark.algorithms.hyperball import (
    hyperball_centralities,
    hyperball_centralities_sql,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


def _g(spark, edges, n):
    return Graph(
        spark.createDataFrame([(int(a), int(b)) for a, b in edges], "src long, dst long"),
        num_nodes=n,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _golden(name, df):
    with open(os.path.join(DATA, f"hyperball_centralities_{name}.json")) as f:
        d = json.load(f)
    assert d["columns"] == df.columns
    return [
        tuple(float.fromhex(v) if isinstance(v, str) else v for v in row)
        for row in d["rows"]
    ]


def test_packed_centralities_bit_identical(spark):
    edges = synth.erdos_renyi(60, 0.06, seed=3)
    g = _g(spark, edges, 60)
    df = hyperball_centralities(g, t_max=4, discount=lambda t: 0.5**t)
    assert _rows(df) == _golden("er60_t4_discount", df)  # exact, no tolerance
    # the same rounding as the hyperball_centralities_g2 gate
    rounded = _rows(
        df.select(
            "id",
            F.round("reachable", 3),
            F.round("harmonic", 3),
            F.round("closeness", 2),
            F.round("lin", 2),
            F.round("discounted", 2),
        )
    )
    values = ", ".join(f"({a}, {b})" for a, b in edges)
    sql = hyperball_centralities_sql(
        f"SELECT * FROM (VALUES {values}) AS v(src, dst)",
        4,
        full=True,
        discount_weights=[0.5**t for t in range(1, 5)],
    )
    with duckdb.connect() as con:
        assert rounded == sorted(con.execute(sql).fetchall())


def test_packed_centralities_bit_identical_fixpoint_m16(spark):
    edges = synth.erdos_renyi(40, 0.12, seed=9)
    df = hyperball_centralities(_g(spark, edges, 40), t_max=None, log2m=4)
    assert _rows(df) == _golden("er40_fixpoint_m16", df)


def test_packed_centralities_empty_graph(spark):
    df = hyperball_centralities(_g(spark, [], 5), t_max=2)
    assert _rows(df) == _golden("empty5_t2", df)
