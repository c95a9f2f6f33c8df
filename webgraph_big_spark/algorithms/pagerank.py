"""PageRank — power iteration as a join/aggregate loop.

The north rule's flagship algorithm (PageRank lives in the reference's
LAW companion, not webgraph-big itself — SURVEY.md scope note; the data
model, dense long ids + sorted successor semantics, is the reference's,
``ImmutableGraph.java:201``).

Semantics (documented to match the NumPy oracle exactly):

    r⁰(x)   = 1/n
    r^{t+1}(x) = (1−α)/n + α·( Σ_{y→x} r^t(y)/outdeg(y) + D^t/n )

where D^t = Σ over dangling nodes y (outdeg 0) of r^t(y) — dangling mass
is redistributed uniformly.  α defaults to 0.85.  Ranks sum to 1 every
iteration.  Convergence: L∞(r^{t+1} − r^t) < tol.

Execution shape per iteration (two shuffles, both on node id):
  1. contribs: ranks (n rows, small) ⨝ edges on src — ranks are the
     *small* side; at 100 TB the edge table stays partitioned by src
     across iterations so only ranks move.
  2. groupBy(dst).sum — map-side partial aggregation combines hub fan-in
     before the shuffle; AQE skew-join handles residual hub skew
     (see skew.py for the explicit salting path + metrics).

Dangling mass + delta are computed in the same pass via a join of old and
new ranks (one action per iteration).  Lineage is truncated through
IterativeRunner parquet checkpoints (resumable per the north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import Graph, co_partitioned
from webgraph_big_spark.session import broadcast_threshold


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iterations: int = 200,
    run_dir: str | None = None,
    checkpoint_every: int = 20,
    resume: bool = True,
    fixed_iterations: int | None = None,
    check_every: int = 4,
    broadcast_threshold_bytes: int | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Returns (id, rank) over all n nodes.

    ``fixed_iterations`` runs exactly that many rounds with no convergence
    test (used by the SQL-oracle gate); otherwise the L∞ delta is tested
    every ``check_every`` rounds (a convergence probe is an extra action;
    probing every round would double driver latency for no benefit —
    power iteration's delta decays geometrically).

    ``salt_buckets`` (co-partition path only) splits each source's arcs
    across that many partitions: the edge table co-partitions on
    (src, salt(dst)) and the rank side replicates ×salt_buckets via a
    broadcast cross-join before the per-round join.  Without it a
    mega-out-hub's arcs land in ONE cached partition (hash(src) sends
    every arc of one src to the same place) and one straggler task per
    round carries the hub — AQE cannot split a cached, non-shuffle join
    side.  Cost: rank-side message volume ×salt_buckets (the small
    side); the hub partition shrinks ÷salt_buckets.  Use when
    max-outdegree ≫ m/num_partitions (see skew.py:hub_nodes and the
    measured hub benchmark in BENCH.md).
    """
    spark = g.edges.sparkSession
    n = g.num_nodes()
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")

    # Join-strategy choice, *memory-aware* (not a magic row count): the
    # rank side is broadcast while its estimated bytes fit the session's
    # autoBroadcastJoinThreshold; beyond that the edge table is
    # pre-partitioned by src ONCE (hash partitioning survives
    # localCheckpoint), so each iteration's rank join is a shuffled hash
    # join that exchanges ONLY the rank rows — the edge table never
    # reshuffles, the bucketed-table pattern without a metastore.
    if broadcast_threshold_bytes is None:
        broadcast_threshold_bytes = max(broadcast_threshold(spark), 1)
    RANK_ROW_BYTES = 32  # 8B id + 8B rank + row overhead, conservative
    use_broadcast = n * RANK_ROW_BYTES <= broadcast_threshold_bytes

    if use_broadcast:
        # broadcast path: the degree side is ≤ n rows — the SAME bound
        # that qualified the rank side for broadcast — so attach outdeg
        # with a broadcast join instead of a src-shuffle SMJ: the edge
        # table is never exchanged at setup (guide §2.4/§3.1; the old
        # path paid degree-shuffle + SMJ + a round-robin rebalance, three
        # full passes of the edge table, before the loop even started).
        # Input partitioning is whatever the source scan produced, which
        # is round-robin-ish — no hub concentration to undo.
        edges_base = g.edges.select("src", "dst").join(
            F.broadcast(g.out_degrees().withColumnRenamed("id", "src")), "src"
        )
        edges_w = edges_base.localCheckpoint(eager=True)
    else:
        edges_base = g.edges.select("src", "dst").join(
            g.out_degrees().withColumnRenamed("id", "src"), "src"
        )
        # co-partition path — see co_partitioned for the full recipe:
        # each iteration's join satisfies its distribution requirement
        # from the cache and only the rank side is exchanged.
        if salt_buckets:
            edges_base = edges_base.withColumn(
                "_salt",
                F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int"),
            )
            edges_w = co_partitioned(edges_base, "src", "_salt")
        else:
            edges_w = co_partitioned(edges_base, "src")

    def initial() -> DataFrame:
        return g.nodes().select("id", F.lit(1.0 / n).alias("rank"))

    # Nodes with no in-arc never receive inflow: their new rank is the
    # same constant expression every round.  The set is STATIC, so
    # precompute it once and make each round a (contribs ∪ constant)
    # union instead of an n-row outer join — the per-round sort-merge
    # join of the full node set against contribs disappears from the
    # loop entirely (guide §2.4: remove shuffles outright).  The float
    # expression keeps the literal `0.0 + inflow-shaped` form so ranks
    # are bit-identical to the old coalesce(inflow, 0.0) path.
    no_in = (
        g.nodes()
        .join(g.edges.select(F.col("dst").alias("id")).distinct(), "id", "left_anti")
        .localCheckpoint(eager=True)
    )

    def step(ranks: DataFrame, it: int):
        # One lazy plan per round.  Σ ranks ≡ 1 (the update preserves it),
        # so dangling mass = 1 − Σ inflow — computed from the SAME
        # aggregated exchange (Catalyst reuses it) instead of a second
        # scan, and folded in via a 1-row broadcast cross-join.
        # After localCheckpoint the rank DataFrame is a LogicalRDD with no
        # size statistics, so Catalyst left alone would fall back to a
        # sort-merge join that reshuffles the whole edge table every
        # round.  Below the (memory-derived) threshold the rank side is
        # broadcast explicitly; above it, the shuffle-hash hint + the
        # pre-partitioned edge table make each round exchange only ranks.
        rank_side = ranks.select(F.col("id").alias("src"), "rank")
        join_keys = ["src"]
        if use_broadcast:
            rank_side = F.broadcast(rank_side)
        else:
            if salt_buckets:
                # replicate the (small) rank side across the salt space so
                # the join key matches the salted edge partitioning — the
                # hub's arcs then spread over salt_buckets tasks
                salts = spark.range(salt_buckets).select(
                    F.col("id").cast("int").alias("_salt")
                )
                rank_side = rank_side.crossJoin(F.broadcast(salts))
                join_keys = ["src", "_salt"]
            rank_side = rank_side.hint("shuffle_hash")
        contribs = (
            edges_w.join(rank_side, join_keys)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        tot = contribs.agg(F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("_tot"))
        btot = F.broadcast(tot)

        def _rank_expr(inflow_col):
            return (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha)
                * (inflow_col + (F.lit(1.0) - F.col("_tot")) / n)
            ).alias("rank")

        # every node with an in-arc appears in contribs every round (all
        # sources carry a rank), so the old n-row left join + coalesce
        # splits exactly into contribs rows (inflow) ∪ the static no-in
        # set (inflow ≡ 0.0) — a join-free union
        new_ranks = contribs.crossJoin(btot).select(
            "id", _rank_expr(F.col("inflow"))
        ).unionByName(
            no_in.crossJoin(btot).select("id", _rank_expr(F.lit(0.0)))
        )
        if fixed_iterations is not None:
            changed = None if it + 1 < fixed_iterations else 0
            return new_ranks, changed
        return new_ranks, None

    def check(old: DataFrame, new: DataFrame, it: int):
        if (it + 1) % check_every != 0:
            return None
        # L∞ delta probe over the two materialized (checkpointed) states
        delta = (
            new.join(old.withColumnRenamed("rank", "prev").hint("shuffle_hash"), "id")
            .agg(F.max(F.abs(F.col("rank") - F.col("prev"))))
            .first()[0]
        )
        return 0 if delta < tol else 1

    runner = IterativeRunner(
        spark,
        run_dir=run_dir,
        checkpoint_every=checkpoint_every,
        max_iterations=fixed_iterations or max_iterations,
    )
    try:
        result = runner.run(
            initial, step, check=None if fixed_iterations else check, resume=resume
        )
    finally:
        if not use_broadcast:
            # don't leave the degree-joined edge table pinned in executor
            # storage for the rest of the session
            edges_w.unpersist()
    return result.state
