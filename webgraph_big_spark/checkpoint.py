"""Iteration driver: the one durable-checkpoint protocol and the one
frontier loop.

The reference's iterative algorithms run in-place over big arrays with a
barrier per round (``algo/ParallelBreadthFirstVisit.java:272``,
``algo/HyperBall.java:1000``).  The Spark analogue is a driver loop over
state DataFrames where each round is a job; this module adds, once for
every loop, what Spark does not give for free (SURVEY.md §4):

- **durable checkpoints** (:func:`commit` / :func:`latest` /
  :func:`load`): each named state relation is written to
  ``run_dir/iter_NNNNNN/{name}`` as parquet and re-read; the manifest
  ``{"iteration", "ts", "relations": {name: {"rows",
  "partition_sizes"}}, **extra}`` is written LAST (``.tmp`` +
  ``os.replace``), so its presence proves a complete iteration and a
  torn directory is ignored on resume.  One job per relation (a
  ``spark_partition_id`` group-by gives both numbers).  After each
  commit only the last ``KEEP_CHECKPOINTS`` complete iterations are
  kept; resume only ever reads the newest.
- **convergence loops** (:class:`IterativeRunner`): an eager
  ``localCheckpoint`` per round (lineage truncation — the analogue of
  the reference's in-place arrays), a commit every ``checkpoint_every``
  rounds, resume, and per-iteration metrics in ``runs.jsonl``.
- **frontier loops** (:func:`frontier_loop`): the level-synchronous
  visit behind BFS and SCC reachability — one frontier, one visited
  set, one barrier per level.

Checkpoints are plain parquet directories; on a cluster the same layout
maps 1:1 onto an Iceberg table with snapshot-per-iteration, keeping the
write pattern (overwrite-by-directory, manifest-commit-last) atomic in
the same way.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# complete checkpoints kept per run_dir (older ones are deleted on commit)
KEEP_CHECKPOINTS = 3
# frontier loops re-materialize their lazily unioned visited set this often
TRUNCATE_EVERY = 10


def _iter_dir(run_dir: str, it: int) -> str:
    return os.path.join(run_dir, f"iter_{it:06d}")


def _iterations(run_dir: str, complete: bool) -> list[int]:
    if not os.path.isdir(run_dir):
        return []
    return sorted(
        int(name.split("_")[1])
        for name in os.listdir(run_dir)
        if name.startswith("iter_")
        and (not complete or os.path.exists(os.path.join(run_dir, name, "manifest.json")))
    )


def latest(run_dir: str) -> int | None:
    """Newest iteration with a complete manifest, or None."""
    its = _iterations(run_dir, complete=True)
    return its[-1] if its else None


def load(run_dir: str, it: int, names: list[str]) -> list[DataFrame]:
    """The relations ``names`` of checkpoint ``it``, in that order."""
    spark = SparkSession.active()
    return [spark.read.parquet(os.path.join(_iter_dir(run_dir, it), n)) for n in names]


def commit(run_dir: str, it: int, relations: dict[str, DataFrame], **extra) -> list[DataFrame]:
    """Durably checkpoint ``relations`` as iteration ``it`` (manifest
    written last) and prune to the last ``KEEP_CHECKPOINTS`` complete
    iterations.  Returns the relations re-read from parquet, in order —
    lineage fully truncated, the checkpoint is the source of truth."""
    d = _iter_dir(run_dir, it)
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        os.remove(manifest_path)  # re-commit: the directory is torn until done
    stats, out = {}, []
    for name, df in relations.items():
        path = os.path.join(d, name)
        df.write.mode("overwrite").parquet(path)
        reread = df.sparkSession.read.parquet(path)
        sizes = [r["count"] for r in reread.groupBy(F.spark_partition_id()).count().collect()]
        stats[name] = {"rows": sum(sizes), "partition_sizes": sizes}
        out.append(reread)
    manifest = {"iteration": it, "ts": time.time(), "relations": stats, **extra}
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(manifest_path + ".tmp", manifest_path)  # commit point
    kept = _iterations(run_dir, complete=True)[-KEEP_CHECKPOINTS:]
    for old in _iterations(run_dir, complete=False):
        if old < kept[0]:
            shutil.rmtree(_iter_dir(run_dir, old), ignore_errors=True)
    return out


def frontier_loop(
    seeds: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    max_depth: int | None = None,
) -> DataFrame:
    """Level-synchronous visit: the union of ``seeds`` and every row
    first reached at some level.  ``expand(frontier, depth)`` returns the
    candidate rows of level ``depth`` keyed by ``id`` (same columns as
    ``seeds``); the loop keeps those whose id is not yet visited and stops
    when a level adds nothing or after ``max_depth`` levels.

    Per level: one ``left_anti`` join against the visited ids with a
    ``shuffle_hash`` hint on the visited side (candidates are already
    hash-partitioned by id after the caller's distinct/group-by, so only
    the visited set is exchanged and no SMJ sorts are paid), an eager
    ``localCheckpoint`` of the new level and an ``isEmpty`` stop probe.
    The visited set is a lazy union of checkpointed levels — re-
    materializing it every level would cost an O(|visited|) job each —
    truncated every ``TRUNCATE_EVERY`` levels."""
    visited = seeds.localCheckpoint(eager=True)
    frontier = visited
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        nxt = (
            expand(frontier, depth)
            .join(visited.select("id").hint("shuffle_hash"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        if depth % TRUNCATE_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    return visited


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class IterativeRunner:
    """Run ``state = step(state)`` until convergence with checkpoints.

    ``step(state, iteration) -> (new_state, changed_count_or_None)``;
    convergence = ``changed == 0``.
    """

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str | None = None,
        checkpoint_every: int = 5,
        max_iterations: int = 200,
    ):
        self.spark = spark
        self.run_dir = run_dir
        self.checkpoint_every = checkpoint_every
        self.max_iterations = max_iterations

    def latest_checkpoint(self) -> int | None:
        """Latest iteration with a *complete* manifest."""
        return latest(self.run_dir) if self.run_dir else None

    def _log_run(self, rec: dict) -> None:
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)
            with open(os.path.join(self.run_dir, "runs.jsonl"), "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    # -- the loop ----------------------------------------------------------
    def run(
        self,
        initial: Callable[[], DataFrame],
        step: Callable[[DataFrame, int], tuple[DataFrame, int | None]],
        check: Callable[[DataFrame, DataFrame, int], int | None] | None = None,
        resume: bool = True,
    ) -> IterationResult:
        """``step(state, it) -> (new_state_plan, changed_or_None)``;
        ``check(old, new, it) -> changed_or_None`` runs *after* the new
        state is materialized (so convergence probes hit cached data, not
        a recompute).  Convergence = changed == 0.

        Every iteration the new state is **eagerly localCheckpoint-ed**:
        iterative DataFrame plans otherwise grow without bound and
        Catalyst re-optimization time explodes within ~5 rounds
        (SURVEY.md §7 hard part 4 — the Spark analogue of the reference's
        in-place big arrays).  Durable parquet checkpoints (resume path)
        happen every ``checkpoint_every`` rounds on top.
        """
        metrics: list[dict] = []
        start_iter = 0
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)
        last = self.latest_checkpoint() if resume else None
        if last is not None:
            [state] = load(self.run_dir, last, ["state"])
            start_iter = last
        else:
            state = initial()
        state = state.localCheckpoint(eager=True)

        converged = False
        it = start_iter
        while it < self.max_iterations:
            t0 = time.time()
            new_plan, changed = step(state, it)
            new_state = new_plan.localCheckpoint(eager=True)  # truncate lineage
            # row-count metric: one extra (tiny but not free) job per round —
            # only pay for it when a run_dir wants durable metrics/manifests
            n_rows = new_state.count() if self.run_dir else None
            if changed is None and check is not None:
                changed = check(state, new_state, it)
            it += 1
            rec = {
                "iteration": it,
                "rows": n_rows,
                "changed": changed,
                "sec": time.time() - t0,
            }
            metrics.append(rec)
            self._log_run(rec)
            if self.run_dir and (it % self.checkpoint_every == 0):
                commit(self.run_dir, it, {"state": new_state}, changed=changed)
            state = new_state
            if changed is not None and changed == 0:
                converged = True
                break
        if self.run_dir:
            # final checkpoint so a resumed run sees the converged state
            commit(self.run_dir, it, {"state": state}, final=True)
        return IterationResult(state=state, iterations=it, converged=converged, metrics=metrics)

    def clear(self) -> None:
        if self.run_dir and os.path.isdir(self.run_dir):
            shutil.rmtree(self.run_dir)
