"""The workloads: set-up, timed operations and their output checks.

Every operation is one closed-loop request: it calls into one or more
layers through ``Context.call`` and materializes the result on the driver.
Its check runs afterwards, outside the timed region, against the expected
results computed once per seed (``oracles.py``).
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import oracles


@dataclass
class Op:
    name: str
    run: Callable[[], pd.DataFrame]
    check: Callable[[pd.DataFrame], bool]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# output comparisons
# ---------------------------------------------------------------------------

def ranks_close(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    m = exp.merge(got, on="id", how="outer", suffixes=("_exp", ""))
    return len(m) == len(exp) == len(got) and bool(
        np.allclose(m["rank"], m["rank_exp"], rtol=0.0, atol=1e-6)
    )


def same_partition(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    canon = oracles.canonical_partition(got["id"].to_numpy(), got["comp"].to_numpy())
    return len(got) == len(exp) and canon.equals(exp)


def same_rows(got: pd.DataFrame, exp: pd.DataFrame, cols: list[str]) -> bool:
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = exp[cols].sort_values(cols).reset_index(drop=True)
    return len(a) == len(b) and bool((a.to_numpy() == b.to_numpy()).all())


# ---------------------------------------------------------------------------
# the run context
# ---------------------------------------------------------------------------

class Context:
    """What a workload's operations share within one run: the session,
    the set-up inputs, the scratch directory and the per-pass layer
    accounting."""

    def __init__(self, spark, tracer, inputs: dict, data_dir: str, meta: dict,
                 expected: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.data_dir = data_dir
        self.meta = meta
        self.expected = expected
        self.work = work
        self.layers: dict[str, dict[str, float]] = {}  # this pass, per layer
        self.counts: dict[str, float] = {}  # this pass, per count metric
        self.pass_no = 0

    def call(self, layer: str, fn, *args, **kwargs):
        out, rec = self.tracer.layer(layer, fn, *args, **kwargs)
        acc = self.layers.setdefault(layer, {})
        for k, v in rec.items():
            acc[k] = acc.get(k, 0) + v
        return out

    def rounds(self, layer: str, n: int) -> None:
        acc = self.layers.setdefault(layer, {})
        acc["rounds"] = acc.get("rounds", 0) + n

    def path(self, name: str) -> str:
        return os.path.join(self.work, f"pass{self.pass_no}", name)


# ---------------------------------------------------------------------------
# set-up: input read plus graph build and pin
# ---------------------------------------------------------------------------

def read_graphs(spark, tracer, data_dir: str, pinned: tuple[str, ...],
                unpinned: tuple[str, ...]) -> tuple[dict, dict]:
    """Read each arc table; pin the ones several loops share with the
    package's own recipe (``graph.co_partitioned``).  The others are used
    once per pass, and the algorithm that uses them pins what it needs.
    Returns the graphs and the per-layer records of the pin calls."""
    from webgraph_big_spark.graph import Graph, co_partitioned

    graphs, rec_sum = {}, {}
    for name in pinned + unpinned:
        df = spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))
        if name in pinned:
            df, rec = tracer.layer("graph.co_partitioned", co_partitioned, df, "src")
            for k, v in rec.items():
                rec_sum[k] = rec_sum.get(k, 0) + v
        graphs[name] = Graph(df, dense=False)
    return graphs, {"graph.co_partitioned": rec_sum}


def read_repos(spark, tracer, data_dir: str) -> tuple[dict, dict]:
    """The repos table, read once and held in memory, so that ingest
    measures extraction and id assignment rather than the scan."""
    repos = spark.read.parquet(os.path.join(data_dir, "repos")).cache()
    repos.count()
    return {"repos": repos}, {}


# ---------------------------------------------------------------------------
# rounds: iterative algorithms, in memory and with durable checkpoints
# ---------------------------------------------------------------------------

def rounds_ops(ctx: Context) -> list[Op]:
    from pyspark.sql import functions as F

    from webgraph_big_spark.algorithms.bfs import bfs_distances
    from webgraph_big_spark.algorithms.components import connected_components_star
    from webgraph_big_spark.algorithms.hyperball import hyperball_centralities
    from webgraph_big_spark.algorithms.labelprop import label_propagation
    from webgraph_big_spark.algorithms.pagerank import pagerank
    from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw

    g1, g2, g6, web = (ctx.inputs[n] for n in ("g1", "g2", "g6", "powerlaw"))
    exp = ctx.expected

    def components():
        return ctx.call("algorithms.components",
                        lambda: connected_components_star(g2).toPandas())

    def labelprop():
        rounds = oracles.LABELPROP_ROUNDS
        out = ctx.call("algorithms.labelprop",
                       lambda: label_propagation(g2, rounds=rounds).toPandas())
        ctx.rounds("algorithms.labelprop", rounds)
        return out

    def bfs():
        src = ctx.meta["bfs_source"]
        out = ctx.call("algorithms.bfs", lambda: bfs_distances(g1, [src]).toPandas())
        ctx.rounds("algorithms.bfs", int(out["dist"].max()) + 1)
        return out

    def pagerank_fixed():
        rounds = oracles.PAGERANK_FIXED_ROUNDS
        out = ctx.call("algorithms.pagerank_fixed",
                       lambda: pagerank(g1, fixed_iterations=rounds).toPandas())
        ctx.rounds("algorithms.pagerank_fixed", rounds)
        return out

    def hyperball():
        return ctx.call(
            "algorithms.hyperball",
            lambda: hyperball_centralities(g1, t_max=oracles.HYPERBALL_T)
            .select("id", F.round("reachable", 3).alias("reachable"),
                    F.round("harmonic", 3).alias("harmonic"))
            .toPandas(),
        )

    def scc():
        outer: set[str] = set()

        def progress(msg: str) -> None:
            if msg.startswith("outer "):
                outer.add(msg.split(":", 1)[0])

        out = ctx.call(
            "algorithms.scc",
            lambda: strongly_connected_components_fwbw(g6, progress=progress).toPandas(),
        )
        ctx.rounds("algorithms.scc", len(outer))
        return out

    def pagerank_stop():
        return ctx.call(
            "algorithms.pagerank",
            lambda: pagerank(web, run_dir=ctx.path("pagerank"), tol=oracles.PAGERANK_TOL,
                             max_iterations=oracles.PAGERANK_STOP_ROUND).toPandas(),
        )

    def pagerank_resume():
        run_dir = ctx.path("pagerank")
        out = ctx.call(
            "algorithms.pagerank",
            lambda: pagerank(web, run_dir=run_dir, tol=oracles.PAGERANK_TOL).toPandas(),
        )
        with open(os.path.join(run_dir, "runs.jsonl")) as fh:
            ctx.rounds("algorithms.pagerank", sum(1 for _ in fh))
        return out

    return [
        Op("components", components, lambda o: same_partition(o, exp["components"])),
        Op("labelprop", labelprop, lambda o: same_rows(o, exp["labelprop"], ["id", "label"])),
        Op("bfs", bfs, lambda o: same_rows(o, exp["bfs"], ["id", "dist"])),
        Op("pagerank_fixed", pagerank_fixed, lambda o: ranks_close(o, exp["pagerank_fixed"])),
        Op("hyperball", hyperball,
           lambda o: same_rows(o, exp["hyperball"], ["id", "reachable", "harmonic"])),
        Op("scc", scc, lambda o: same_partition(o, exp["scc"])),
        Op("pagerank_stop", pagerank_stop, lambda o: ranks_close(o, exp["pagerank_stop"])),
        Op("pagerank_resume", pagerank_resume, lambda o: ranks_close(o, exp["pagerank"])),
    ]


def rounds_after_pass(ctx: Context) -> None:
    """Durable-checkpoint counts, measured on the pass's PageRank run_dir."""
    run_dir = ctx.path("pagerank")
    ctx.counts["checkpoint.bytes_written"] = _dir_bytes(run_dir)
    ctx.counts["checkpoint.manifests"] = len(
        glob.glob(os.path.join(run_dir, "*", "manifest.json"))
    )


# ---------------------------------------------------------------------------
# ingest: single passes over megabytes, no iterative rounds
# ---------------------------------------------------------------------------

def ingest_ops(ctx: Context) -> list[Op]:
    from pyspark.sql import functions as F

    from webgraph_big_spark import extract, streaming, transforms
    from webgraph_big_spark.algorithms.triangles import triangle_edges
    from webgraph_big_spark.graph import Graph

    repos = ctx.inputs["repos"]
    exp = ctx.expected
    built: dict[str, Any] = {}
    n_batches = ctx.meta["sizes"]["stream_batches"]

    def build():
        def _build():
            g, _id_map = extract.build_graph(repos)
            return Graph(g.edges.localCheckpoint(eager=True), num_nodes=g.num_nodes())

        built["g"] = ctx.call("extract.build_graph", _build)
        return built["g"].edges.toPandas()

    def check_build(out: pd.DataFrame) -> bool:
        if not same_rows(out, exp["ingest_arcs"], ["src", "dst"]):
            return False
        if built["g"].num_nodes() != ctx.meta["powerlaw_n"]:
            return False
        # per-row ingest invariant: the content hash the extractor records
        # equals the generator's hashlib sha256 of the same row
        refs = extract.extract_references(repos).select("src_symbol", "content_sha").distinct()
        gen = repos.select(
            F.regexp_extract("path", r"([^/]+)\.[A-Za-z0-9]+$", 1).alias("src_symbol"),
            "content_sha256",
        )
        bad = (
            refs.join(gen, "src_symbol", "left")
            .filter(F.col("content_sha256").isNull()
                    | (F.col("content_sha") != F.col("content_sha256")))
            .count()
        )
        return bad == 0

    def store_load():
        base = ctx.path("store")
        meta = ctx.call("graph.store", built["g"].store, base)
        ctx.counts["graph.store.bits_per_link"] = meta["bits_per_link"]
        return ctx.call("graph.load", lambda: Graph.load(ctx.spark, base).edges.toPandas())

    def simplify():
        return ctx.call("transforms.simplify",
                        lambda: transforms.simplify(built["g"]).edges.toPandas())

    def triangles():
        return ctx.call("algorithms.triangles", lambda: triangle_edges(built["g"]).toPandas())

    def stream_batch(i: int) -> Op:
        def run():
            base = ctx.path("stream")
            src_dir = os.path.join(base, "in")
            os.makedirs(src_dir, exist_ok=True)
            # file drop: copy under a hidden name, then rename into view
            tmp = os.path.join(src_dir, f".batch{i}.parquet")
            shutil.copyfile(os.path.join(ctx.data_dir, f"batch{i}.parquet"), tmp)
            os.replace(tmp, os.path.join(src_dir, f"batch{i}.parquet"))
            state = os.path.join(base, "state")

            def apply():
                arcs = streaming.stream_arc_files(ctx.spark, src_dir, "src long, dst long")
                q = streaming.incremental_degrees(
                    arcs, state, os.path.join(base, "ckpt"), available_now=True
                )
                q.awaitTermination()

            before = set(glob.glob(os.path.join(state, "v*")))
            ctx.call("streaming.incremental_degrees", apply)
            written = sum(
                _dir_bytes(v) for v in glob.glob(os.path.join(state, "v*")) if v not in before
            )
            key = "streaming.bytes_rewritten_per_batch"
            ctx.counts[key] = ctx.counts.get(key, 0) + written / n_batches
            return ctx.call(
                "streaming.read_degree_state",
                lambda: streaming.read_degree_state(ctx.spark, state).toPandas(),
            )

        def check(o: pd.DataFrame) -> bool:
            e = exp["degrees"]
            return same_rows(o, e[e["batch"] == i], ["id", "outdeg", "indeg"])

        return Op(f"stream_batch{i}", run, check)

    return [
        Op("build", build, check_build),
        Op("store_load", store_load,
           lambda o: same_rows(o, exp["ingest_arcs"], ["src", "dst"])),
        Op("simplify", simplify, lambda o: same_rows(o, exp["simplify"], ["src", "dst"])),
        Op("triangles", triangles,
           lambda o: same_rows(o, exp["triangles"], ["src", "dst", "tri"])),
        *[stream_batch(i) for i in range(n_batches)],
    ]


def ingest_after_pass(ctx: Context) -> None:
    """Live state versions left by the pass's stream."""
    ctx.counts["streaming.state_versions"] = len(
        glob.glob(os.path.join(ctx.path("stream"), "state", "v*"))
    )


@dataclass(frozen=True)
class Workload:
    name: str
    setup: Callable  # (spark, tracer, data_dir) -> (inputs, per-layer records)
    expected: tuple[str, ...]
    ops: Callable[[Context], list[Op]]
    after_pass: Callable[[Context], None]


WORKLOADS = {
    "rounds": Workload(
        "rounds",
        functools.partial(read_graphs, pinned=("g1", "g2"), unpinned=("g6", "powerlaw")),
        ("components", "labelprop", "bfs", "pagerank_fixed", "hyperball", "scc",
         "pagerank_stop", "pagerank"),
        rounds_ops, rounds_after_pass,
    ),
    "ingest": Workload(
        "ingest", read_repos,
        ("ingest_arcs", "simplify", "triangles", "degrees"),
        ingest_ops, ingest_after_pass,
    ),
}
