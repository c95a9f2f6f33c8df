"""Expected outputs, computed once per seed outside any timed region.

Pure NumPy/pandas, the repository's own test oracles (``tests/oracle.py``),
and DuckDB SQL.  Each expected result is cached as parquet beside the inputs
it was computed from.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

import inputs

PAGERANK_STOP_ROUND = 4  # durable PageRank stops here, then resumes
PAGERANK_TOL = 1e-7
PAGERANK_CHECK_EVERY = 4  # pagerank()'s default probe period
PAGERANK_FIXED_ROUNDS = 10
LABELPROP_ROUNDS = 4
HYPERBALL_T = 3


def _oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "linkbench_test_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dense(arcs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, arcs over 0..n-1): the oracles want dense ids; ``ids`` is the
    sorted node set, so the mapping preserves id order (min tie-breaks)."""
    ids, inv = np.unique(arcs, return_inverse=True)
    return ids, inv.reshape(arcs.shape)


def canonical_partition(ids: np.ndarray, labels: np.ndarray) -> pd.DataFrame:
    """(id, rep) with rep = min member id of the id's class."""
    df = pd.DataFrame({"id": ids, "label": labels})
    df["rep"] = df.groupby("label")["id"].transform("min")
    return df[["id", "rep"]].sort_values("id").reset_index(drop=True)


def _pagerank(o, arcs, **kw) -> pd.DataFrame:
    ids, e = _dense(arcs)
    return pd.DataFrame({"id": ids, "rank": o.pagerank_oracle(e, len(ids), **kw)})


def _converged_round(arcs: np.ndarray, alpha: float = 0.85) -> int:
    """The round at which ``pagerank(tol=PAGERANK_TOL)`` stops.  Its L-inf
    probe runs every PAGERANK_CHECK_EVERY rounds, so this replays that rule
    with the oracle's update rather than stopping at the first round under
    the tolerance."""
    _ids, e = _dense(arcs)
    n = int(e.max()) + 1
    outdeg = np.bincount(e[:, 0], minlength=n)
    r = np.full(n, 1.0 / n)
    for it in range(1, 1001):
        share = np.where(outdeg > 0, r / np.maximum(outdeg, 1), 0.0)
        inflow = np.bincount(e[:, 1], weights=share[e[:, 0]], minlength=n)
        new = (1 - alpha) / n + alpha * (inflow + r[outdeg == 0].sum() / n)
        if it % PAGERANK_CHECK_EVERY == 0 and np.max(np.abs(new - r)) < PAGERANK_TOL:
            return it
        r = new
    raise RuntimeError("PageRank oracle did not converge in 1000 rounds")


def _hyperball(d: str) -> pd.DataFrame:
    from webgraph_big_spark.algorithms.hyperball import hyperball_centralities_sql

    edge_sql = f"SELECT src, dst FROM read_parquet('{os.path.join(d, 'g1.parquet')}')"
    with duckdb.connect() as con:
        return con.execute(hyperball_centralities_sql(edge_sql, HYPERBALL_T)).df()


def _triangles(d: str) -> pd.DataFrame:
    """Per oriented edge triangle counts with ``triangle_edges``'
    semantics: degree-ordered orientation of the simple graph; a row for
    every oriented edge whose head has an oriented out-arc."""
    e = os.path.join(d, "powerlaw.parquet")
    sql = f"""
    WITH e AS (SELECT src, dst FROM read_parquet('{e}')),
    s AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e) WHERE src <> dst),
    deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM s GROUP BY src),
    o AS MATERIALIZED (SELECT s.src, s.dst FROM s
        JOIN deg a ON a.id = s.src JOIN deg b ON b.id = s.dst
        WHERE a.deg < b.deg OR (a.deg = b.deg AND s.src < s.dst)),
    w AS MATERIALIZED (SELECT o1.src, o1.dst, count(*) AS tri FROM o o1
        JOIN o o2 ON o2.src = o1.src
        JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
        GROUP BY o1.src, o1.dst)
    SELECT o.src, o.dst, coalesce(w.tri, 0) AS tri FROM o
    LEFT JOIN w ON w.src = o.src AND w.dst = o.dst
    WHERE o.dst IN (SELECT DISTINCT src FROM o)
    ORDER BY o.src, o.dst
    """
    with duckdb.connect() as con:
        return con.execute(sql).df()


def _simplified(arcs: np.ndarray) -> pd.DataFrame:
    both = np.concatenate([arcs, arcs[:, ::-1]])
    both = np.unique(both[both[:, 0] != both[:, 1]], axis=0)
    return pd.DataFrame({"src": both[:, 0], "dst": both[:, 1]})


def _cumulative_degrees(d: str, meta: dict) -> pd.DataFrame:
    frames = []
    out = pd.Series(dtype=np.int64)
    inn = pd.Series(dtype=np.int64)
    for i in range(meta["sizes"]["stream_batches"]):
        b = inputs.read_arcs(d, f"batch{i}")
        out = out.add(pd.Series(b[:, 0]).value_counts(), fill_value=0)
        inn = inn.add(pd.Series(b[:, 1]).value_counts(), fill_value=0)
        st = pd.DataFrame({"outdeg": out, "indeg": inn}).fillna(0).astype(np.int64)
        st.index.name = "id"
        st = st.reset_index()
        st["batch"] = i
        frames.append(st)
    return pd.concat(frames, ignore_index=True)


def _builders(root: str, d: str, meta: dict) -> dict:
    o = _oracle_module(root)

    def g(name):
        return inputs.read_arcs(d, name)

    def components():
        ids, e = _dense(g("g2"))
        return canonical_partition(ids, o.components_oracle(e, len(ids)))

    def labelprop():
        ids, e = _dense(g("g2"))
        lab = o.label_propagation_oracle(e, len(ids), LABELPROP_ROUNDS)
        return pd.DataFrame({"id": ids, "label": ids[lab]})

    def bfs():
        # bfs_distances expands arcs in both directions by default
        dist = o.bfs_oracle(g("g1"), 0, [meta["bfs_source"]], symmetric_expand=True)
        return pd.DataFrame(sorted(dist.items()), columns=["id", "dist"])

    def scc():
        ids, e = _dense(g("g6"))
        return canonical_partition(ids, o.scc_oracle(e, len(ids)))

    def ingest_arcs():
        a = g("powerlaw")
        return pd.DataFrame({"src": a[:, 0], "dst": a[:, 1]})

    return {
        "pagerank_fixed": lambda: _pagerank(o, g("g1"), fixed_iterations=PAGERANK_FIXED_ROUNDS),
        "pagerank_stop": lambda: _pagerank(
            o, g("powerlaw"), fixed_iterations=PAGERANK_STOP_ROUND
        ),
        "pagerank": lambda: _pagerank(
            o, g("powerlaw"), fixed_iterations=_converged_round(g("powerlaw"))
        ),
        "components": components,
        "labelprop": labelprop,
        "bfs": bfs,
        "scc": scc,
        "hyperball": lambda: _hyperball(d),
        "ingest_arcs": ingest_arcs,
        "simplify": lambda: _simplified(g("powerlaw")),
        "triangles": lambda: _triangles(d),
        "degrees": lambda: _cumulative_degrees(d, meta),
    }


def expected(root: str, d: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """Expected results ``names`` for the inputs in ``d``, cached there."""
    meta = inputs.load_meta(d)
    builders = None
    out = {}
    for name in names:
        path = os.path.join(d, f"expected-{name}.parquet")
        if not os.path.exists(path):
            builders = builders or _builders(root, d, meta)
            df = builders[name]()
            df.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
        out[name] = pd.read_parquet(path)
    return out
