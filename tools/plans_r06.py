"""Capture `.explain("formatted")` evidence for round 6 into
plans/r06/<query>_{before,after}.txt.

For one-shot queries the plan is the query itself.  For iterative
algorithms (pagerank, wcc, bfs, hyperball, scc) the *final* DataFrame is
a localCheckpointed RDD scan, so the file captures the representative
PER-ROUND step plan — the plan that executes O(rounds) times and
dominates the wall time.

Usage: python tools/plans_r06.py {before|after} [query ...]
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def emit(name: str, sections: list[tuple[str, object]]) -> None:
    if ONLY and name not in ONLY:
        return
    os.makedirs(OUT, exist_ok=True)
    parts = []
    for title, df in sections:
        parts.append(f"== {title} ==\n\n{grab(df)}\n")
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as fh:
        fh.write("\n".join(parts))
    print(f"wrote {name}_{TAG}.txt", flush=True)


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.graph import co_partitioned
    from webgraph_big_spark import transforms as tr

    spark = get_spark("plans-r06", cpus=8, shuffle_partitions=8)
    g1 = entry.load_g1(spark, sf)
    g1.edges = g1.edges.localCheckpoint(eager=True)
    g2 = entry.load_g2(spark, sf)
    g2.edges = g2.edges.localCheckpoint(eager=True)

    # ---- pagerank: setup (edge prep) + one broadcast-path round ----
    import webgraph_big_spark.algorithms.pagerank as prm

    n = g1.num_nodes()
    ranks0 = g1.nodes().select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint(eager=True)
    if TAG == "before":
        edges_base = g1.edges.select("src", "dst").join(
            g1.out_degrees().withColumnRenamed("id", "src"), "src"
        )
        rank_side = F.broadcast(ranks0.select(F.col("id").alias("src"), "rank"))
        contribs = (
            edges_base.repartition(8).join(rank_side, ["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        tot = contribs.agg(F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("_tot"))
        new_ranks = (
            ranks0.select("id").join(contribs, "id", "left").crossJoin(F.broadcast(tot))
            .select("id", (F.lit(0.15 / n) + F.lit(0.85) * (F.coalesce("inflow", F.lit(0.0)) + (F.lit(1.0) - F.col("_tot")) / n)).alias("rank"))
        )
    else:
        # mirrors pagerank.py's current broadcast path
        edges_base = g1.edges.select("src", "dst").join(
            F.broadcast(g1.out_degrees().withColumnRenamed("id", "src")), "src"
        )
        edges_w = edges_base.localCheckpoint(eager=True)
        no_in = (
            g1.nodes()
            .join(g1.edges.select(F.col("dst").alias("id")).distinct(), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        rank_side = F.broadcast(ranks0.select(F.col("id").alias("src"), "rank"))
        contribs = (
            edges_w.join(rank_side, ["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        tot = contribs.agg(F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("_tot"))
        btot = F.broadcast(tot)
        expr = lambda inflow: (F.lit(0.15 / n) + F.lit(0.85) * (inflow + (F.lit(1.0) - F.col("_tot")) / n)).alias("rank")
        new_ranks = contribs.crossJoin(btot).select("id", expr(F.col("inflow"))).unionByName(
            no_in.crossJoin(btot).select("id", expr(F.lit(0.0))))
    sections = [("edge prep (setup)", edges_base), ("one iteration (new_ranks plan)", new_ranks)]
    emit("pagerank10_g1", sections)

    # ---- wcc_star: one large_star+small_star round ----
    from webgraph_big_spark.algorithms import components as cmp_mod

    rel = (
        g2.edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if hasattr(cmp_mod, "_star_round_for_explain"):
        star_sections = cmp_mod._star_round_for_explain(rel)
    else:
        def large_star(rel):
            nbrs = rel.union(rel.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
            out = (nbrs.join(mins, "u").filter(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v")))
            return out.distinct() if TAG == "before" else out
        def small_star(rel):
            nbrs = rel.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
            joined = nbrs.join(mins, "u")
            out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
                joined.select(F.col("u"), F.col("m").alias("v")))
            return out.filter(F.col("u") != F.col("v")).distinct()
        star_sections = [("one round: small_star(large_star(rel))", small_star(large_star(rel)))]
    emit("wcc_star_g2", star_sections)

    # ---- labelprop: one vote round ----
    from pyspark.sql.window import Window

    gs2 = tr.symmetrize(g2)
    edges_lp = co_partitioned(gs2.edges.select("src", "dst"), "src")
    labels0 = g2.nodes().select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    votes = (
        edges_lp.join(labels0.select(F.col("id").alias("src"), "label").hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"), "label").agg(F.count("*").alias("cnt"))
    )
    if TAG == "before":
        w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
        winner = votes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).select(
            "id", F.col("label").alias("new_label"))
        lp_round = labels0.join(winner, "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label"))
    else:
        isolated = labels0.join(
            gs2.edges.select(F.col("dst").alias("id")).distinct(), "id", "left_anti")
        winner = (votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))).alias("_w"))
            .select("id", (-F.col("_w._nl")).alias("label")))
        lp_round = winner.unionByName(isolated)
    emit("labelprop4_g2", [("edge prep (symmetrize+pin)", gs2.edges), ("one vote round", lp_round)])
    edges_lp.unpersist()

    # ---- bfs: edge prep + one level ----
    if TAG == "before":
        bfs_prep = tr.symmetrize(g1).edges.select("src", "dst")
    else:
        bfs_prep = g1.edges.select("src", "dst").union(
            g1.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges_bfs = co_partitioned(bfs_prep, "src")
    frontier = g1.nodes().limit(50).select("id").localCheckpoint(eager=True)
    anti_side = frontier.select("id") if TAG == "before" else frontier.select("id").hint("shuffle_hash")
    level = (
        edges_bfs.join(frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("id")).distinct()
        .join(anti_side, "id", "left_anti")
    )
    emit("bfs_full_g1", [("edge prep", bfs_prep), ("one level expansion", level)])
    edges_bfs.unpersist()

    # ---- hyperball: edge prep + one packed merge round ----
    from webgraph_big_spark.algorithms.hyperball import (
        K, LOG2M, _field, _greatest_packed, _packed_init, _repack,
    )

    hb_prep = g1.edges.select("src", "dst")
    pstate = _packed_init(g1, LOG2M).localCheckpoint(eager=True)
    pedges = co_partitioned(hb_prep, "dst")
    pmax = [F.expr(f"max({_field('packed', j)})").alias(f"_f{j}") for j in range(K)]
    pmsgs = (
        pedges.join(pstate.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
        .groupBy(F.col("src").alias("id"), "slot").agg(*pmax)
        .selectExpr("id", "slot", f"{_repack([f'_f{j}' for j in range(K)])} AS mpacked")
    )
    pmerged = pstate.join(pmsgs.hint("shuffle_hash"), ["id", "slot"], "full").selectExpr(
        "id", "slot", "coalesce(packed, CAST(0 AS BIGINT)) AS old_packed",
        f"{_greatest_packed('coalesce(packed, CAST(0 AS BIGINT))', 'coalesce(mpacked, CAST(0 AS BIGINT))')} AS packed")
    emit("hyperball_t2_g1", [
        ("edge prep (no distinct: max-merge idempotent)", hb_prep),
        ("one packed merge round (O(1) plan width)", pmerged),
    ])
    pedges.unpersist()

    # ---- one-shot queries ----
    emit("triangles_g2", [("triangle_edges sum", __import__("webgraph_big_spark.algorithms.triangles", fromlist=["triangle_edges"]).triangle_edges(g2).agg(F.sum("tri")))])
    emit("compose_g2_g2", [("compose", tr.compose(g2, g2).edges)])
    emit("simplify_g1", [("simplify", tr.simplify(g1).edges)])

    # ---- store/load: decode plan ----
    import tempfile
    from webgraph_big_spark.graph import Graph
    base = tempfile.mkdtemp(prefix="wbs_plan_store_")
    g1.store(base)
    emit("store_load_g1", [("load decode plan", Graph.load(spark, base).edges)])

    # ---- scc_fwbw: one coloring round + one reach level ----
    edges6 = g1.edges.select("src", "dst").localCheckpoint(eager=True)
    fwd = co_partitioned(edges6, "src")
    color0 = g1.nodes().select("id", F.col("id").alias("color")).localCheckpoint(eager=True)
    cmsgs = (
        fwd.join(color0.select(F.col("id").alias("src"), "color").hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id")).agg(F.max("color").alias("mx"))
    )
    if TAG == "before":
        cround = color0.join(cmsgs, "id", "left").select(
            "id", F.greatest("color", F.coalesce("mx", "color")).alias("color"))
        emit("scc_fwbw_g6", [("one coloring round", cround)])
    else:
        cround = color0.join(cmsgs.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.greatest("color", F.coalesce("mx", "color")).alias("color"),
            (F.coalesce("mx", "color") > F.col("color")).alias("_chg"),
        )
        core = (
            g1.edges.select(F.col("src").alias("id"), F.lit(1).alias("_o"), F.lit(0).alias("_i"))
            .unionAll(g1.edges.select(F.col("dst").alias("id"), F.lit(0).alias("_o"), F.lit(1).alias("_i")))
            .groupBy("id").agg(F.max("_o").alias("_o"), F.max("_i").alias("_i"))
            .filter((F.col("_o") == 1) & (F.col("_i") == 1)).select("id")
        )
        emit("scc_fwbw_g6", [
            ("one coloring round (change flag fused, no second SMJ)", cround),
            ("peel core: one flag-max aggregation (was 2 distincts + join)", core),
        ])
    fwd.unpersist()


if __name__ == "__main__":
    main()


def extra_cent() -> None:
    """hyperball_cent_g1: one packed-engine merge round + the per-node
    estimate.  Invoked via `python tools/plans_r06.py {before|after}
    hyperball_cent_g1` — appended separately because the main()
    sections predate the packed engine."""
    import os
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    from webgraph_big_spark.algorithms.hyperball import (
        K, LOG2M, _field, _greatest_packed, _node_est, _packed_init, _repack,
    )
    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.graph import co_partitioned
    from webgraph_big_spark.transforms import BidirectionalGraph

    spark = get_spark("plans-r06-cent", cpus=8, shuffle_partitions=8)
    sf = os.environ["SPARK_GRAFT_SF_DIR"]
    g1 = entry.load_g1(spark, sf)
    g1.edges = g1.edges.localCheckpoint(eager=True)
    gt = BidirectionalGraph(g1).backward
    state = _packed_init(gt, LOG2M).localCheckpoint(eager=True)
    edges = co_partitioned(gt.edges.select("src", "dst"), "dst")
    max_aggs = [F.expr(f"max({_field('packed', j)})").alias(f"_f{j}") for j in range(K)]
    msgs = (
        edges.join(state.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
        .groupBy(F.col("src").alias("id"), "slot").agg(*max_aggs)
        .selectExpr("id", "slot", f"{_repack([f'_f{j}' for j in range(K)])} AS mpacked")
    )
    merged = state.join(msgs.hint("shuffle_hash"), ["id", "slot"], "full").selectExpr(
        "id", "slot", "coalesce(packed, CAST(0 AS BIGINT)) AS old_packed",
        f"{_greatest_packed('coalesce(packed, CAST(0 AS BIGINT))', 'coalesce(mpacked, CAST(0 AS BIGINT))')} AS packed")
    est = _node_est(state, LOG2M)
    emit("hyperball_cent_g1", [
        ("one packed-engine merge round (O(1) plan width)", merged),
        ("per-node estimate (per-slot partials + slot-order combine)", est),
    ])


if __name__ == "__main__" and "hyperball_cent_g1" in ONLY:
    extra_cent()
