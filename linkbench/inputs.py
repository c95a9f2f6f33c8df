"""Seeded benchmark inputs, generated with NumPy and cached per seed.

Every input is a pure function of ``(seed, scale)``; the program under test
only ever sees the files written here.  The graph shapes follow the
TPC-H-derived graphs of ``__spark_entry__.py`` that ``bench.py`` uses,
generated directly so that a checkout needs no external data:

- **G1**: customer -> supplier purchase arcs.  Bipartite and hub-heavy:
  suppliers are ~15x rarer than customers, so every supplier is a hub.
- **G2**: per-nation band graph over customers: each customer links to the
  next ``BAND`` customers of its nation, which gives chains of
  customers / nations / ``BAND`` hops, the high-round-count shape.
- **G6**: G1 plus a seeded third of its arcs reversed; a giant SCC.
- **power-law** ("web") graph: the durable PageRank's input, and rendered
  as a repos table, the ingest input.
- **arc batches**: seeded disjoint slices of G1 for the streaming path.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

BAND = 5
SUPPLIER_BASE = 100_000  # supplier ids are SUPPLIER_BASE + suppkey, as in G1
REPOS_FILES = 8


@dataclass(frozen=True)
class Scale:
    """Input sizes; ``FULL`` is what the benchmark measures."""

    customers: int  # customers with orders (G1 sources)
    suppliers: int
    arcs_per_customer: int  # mean distinct suppliers per customer
    band_customers: int  # G2 node count
    nations: int
    ingest_nodes: int  # power-law graph behind the repos table
    ingest_arcs: int
    stream_batches: int
    stream_batch_arcs: int


FULL = Scale(
    customers=3000,
    suppliers=200,
    arcs_per_customer=20,
    band_customers=750,
    nations=25,
    ingest_nodes=10_000,
    ingest_arcs=80_000,
    stream_batches=2,
    stream_batch_arcs=20_000,
)
TINY = Scale(
    customers=60,
    suppliers=8,
    arcs_per_customer=3,
    band_customers=60,
    nations=3,
    ingest_nodes=200,
    ingest_arcs=800,
    stream_batches=2,
    stream_batch_arcs=40,
)


def _g1(rng: np.random.Generator, s: Scale) -> np.ndarray:
    deg = rng.integers(1, 2 * s.arcs_per_customer, size=s.customers)
    src = np.repeat(np.arange(1, s.customers + 1, dtype=np.int64), deg)
    dst = SUPPLIER_BASE + rng.integers(1, s.suppliers + 1, size=len(src))
    return np.unique(np.stack([src, dst], axis=1), axis=0)


def _g2(rng: np.random.Generator, s: Scale) -> np.ndarray:
    ck = np.arange(1, s.band_customers + 1, dtype=np.int64)
    nation = rng.integers(0, s.nations, size=len(ck))
    parts = []
    for nat in range(s.nations):
        members = ck[nation == nat]  # ascending custkey order
        for k in range(1, BAND + 1):
            parts.append(np.stack([members[:-k], members[k:]], axis=1))
    return np.unique(np.concatenate(parts), axis=0)


def _g6(rng: np.random.Generator, g1: np.ndarray) -> np.ndarray:
    flip = g1[rng.random(len(g1)) < 1.0 / 3.0][:, ::-1]
    return np.unique(np.concatenate([g1, flip]), axis=0)


def generate(seed: int, s: Scale) -> dict:
    """All inputs as NumPy arrays / pandas frames, from ``seed`` alone."""
    from webgraph_big_spark import synth

    rng = np.random.default_rng([seed, 1])
    g1 = _g1(rng, s)
    g2 = _g2(rng, s)
    g6 = _g6(rng, g1)
    # BFS source: a customer of G1 (the visit expands arcs both ways:
    # customer -> supplier -> customer -> ...)
    bfs_source = int(rng.choice(np.unique(g1[:, 0])))
    pl = synth.random_power_law(s.ingest_nodes, s.ingest_arcs, seed=seed)
    repos = synth.repos_pdf(pl, s.ingest_nodes)
    order = rng.permutation(len(g1))
    cut = order[: s.stream_batches * s.stream_batch_arcs]
    batches = [
        g1[np.sort(chunk)]
        for chunk in np.array_split(cut, s.stream_batches)
    ]
    return {
        "g1": g1,
        "g2": g2,
        "g6": g6,
        "bfs_source": bfs_source,
        "powerlaw": pl,
        "powerlaw_n": s.ingest_nodes,
        "repos": repos,
        "batches": batches,
    }


def _arcs_pdf(a: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"src": a[:, 0].astype(np.int64), "dst": a[:, 1].astype(np.int64)})


def materialize(cache_root: str, seed: int, s: Scale, tag: str) -> str:
    """Write the inputs for ``seed`` under ``cache_root`` (once) and return
    the directory.  A ``done.json`` written last marks a complete set."""
    d = os.path.join(cache_root, f"{tag}-seed{seed}")
    if os.path.exists(os.path.join(d, "done.json")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    x = generate(seed, s)
    for name in ("g1", "g2", "g6", "powerlaw"):
        _arcs_pdf(x[name]).to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
    # the repos table is several files, as a real table is, so the scan
    # (and the extraction UDF behind it) runs in parallel
    os.makedirs(os.path.join(d, "repos"))
    bounds = np.linspace(0, len(x["repos"]), REPOS_FILES + 1).astype(int)
    for i in range(REPOS_FILES):
        part = x["repos"].iloc[bounds[i] : bounds[i + 1]]
        part.to_parquet(os.path.join(d, "repos", f"part-{i:05d}.parquet"), index=False)
    for i, b in enumerate(x["batches"]):
        _arcs_pdf(b).to_parquet(os.path.join(d, f"batch{i}.parquet"), index=False)
    sizes = {
        "g1_arcs": len(x["g1"]),
        "g2_arcs": len(x["g2"]),
        "g6_arcs": len(x["g6"]),
        "powerlaw_arcs": len(x["powerlaw"]),
        "repos_files": len(x["repos"]),
        "repos_content_mb": float(x["repos"]["content"].str.len().sum()) / 1e6,
        "stream_batches": len(x["batches"]),
        "stream_batch_arcs": [len(b) for b in x["batches"]],
    }
    meta = {
        "seed": seed,
        "bfs_source": x["bfs_source"],
        "powerlaw_n": x["powerlaw_n"],
        "sizes": sizes,
    }
    with open(os.path.join(d, "done.json"), "w") as fh:
        json.dump(meta, fh)
    return d


def load_meta(d: str) -> dict:
    with open(os.path.join(d, "done.json")) as fh:
        return json.load(fh)


def read_arcs(d: str, name: str) -> np.ndarray:
    pdf = pd.read_parquet(os.path.join(d, f"{name}.parquet"))
    return np.stack([pdf["src"].to_numpy(), pdf["dst"].to_numpy()], axis=1)
