"""linkbench: the repository's end-to-end and per-layer benchmark.

    python3 linkbench/run.py --workload rounds --seed 1 --seconds 5 --trace 0
    python3 linkbench/run.py --selfcheck

Run from the repository root.  One run is one fresh process: it generates
(or reuses) the seeded inputs and expected outputs, sets up the Spark
session and pinned inputs several times, then runs the workload's
operations as a closed loop (one client, each operation after the previous
one completes) in whole passes until ``--seconds`` have passed.  Every
output is checked; the last stdout line is the JSON result.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Inputs, scratch and every path handed to Spark, the JVM or DuckDB are
# relative to the repository root, the working directory of a run: the
# checkout's own path may hold spaces, commas, colons or quotes, which JVM
# option strings, SPARK_LOCAL_DIRS, Hadoop paths and SQL literals split on.
CACHE = os.path.join(os.path.basename(HERE), ".cache")
WORK = os.path.join(os.path.basename(HERE), ".work")
SETUP_REPS = 5


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler threads, by their (15-character) thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str, fields: tuple[int, ...]) -> int:
    rest = stat.rsplit(")", 1)[1].split()
    return sum(int(rest[i]) for i in fields)


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """(work, jit): CPU seconds (user + system) used by ``pid`` and its
    descendants, including exited children they reaped: the JVM's threads
    and Spark's Python workers.  ``jit`` is the part the JVM's JIT compiler
    threads used, and ``work`` the rest.

    In a fresh JVM the compiler threads use about as much CPU as all the
    threads that run the workload, and how much they compile depends on
    timing: on one ``ingest`` input on a shared 4-vCPU VM, C2 used 32 s in
    one run and 26 s in the next, while the other threads read 43.5 s in
    both."""
    total = jit = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                total += _ticks(fh.read(), (11, 12, 13, 14))  # utime..cstime
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(_JIT_THREADS):
                        continue
                with open(f"/proc/{p}/task/{tid}/stat") as fh:
                    jit += _ticks(fh.read(), (11, 12))
        except OSError:
            continue
    return (total - jit) / _CLK_TCK, jit / _CLK_TCK


def _resident_kb(pid: int) -> int:
    """Resident memory of one process as its PSS: pages shared with other
    processes (Python workers forked from one daemon) count once across the
    tree, split among their sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and Spark's Python workers) and keeps the largest sum seen.
    Only traced runs sample: each sample reads every process's
    ``smaps_rollup``, CPU time that would otherwise count in ``pass_cpu_s``
    and that grows with wall time, so with host contention."""

    def __init__(self, enabled: bool, interval: float = 0.25):
        self.enabled = enabled
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = _resident_kb(me) + sum(_resident_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join()


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other tenants, summed over this
    machine's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of the machine's memory, at most 4g: the package default
    (32g) exceeds small machines."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def _session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        # keep the JVM's own temp files inside the run directory, write no
        # hsperfdata file to the system temp directory, and keep every JIT
        # compiler thread for the life of the JVM, so that tree_cpu_s can
        # tell all of their CPU time apart
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads",
        # the per-layer collector reads every job and stage of a call back
        # from the status store; keep them all for the life of the run
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every
    process this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 10:
                time.sleep(0.05)


def _cached_relations(spark) -> int:
    """Entries left in the session's CacheManager."""
    from py4j.protocol import Py4JError

    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())
    except Py4JError:  # the private field differs across Spark versions
        return 0 if cm.isEmpty() else 1


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _corrupt(out):
    """Self-check hook: perturb one value of an operation's output."""
    out = out.copy()
    out.iloc[0, out.shape[1] - 1] = out.iloc[0, out.shape[1] - 1] + 1
    return out


def _layer_metrics(setup_layers: list[dict], pass_layers: list[dict],
                   pass_counts: list[dict]) -> dict[str, float]:
    """Per-layer values: per pass, summed over the layer's calls, then the
    median over passes (set-up layers: median over set-ups)."""
    from collector import LAYER_FIELDS

    def fold(records: list[dict]) -> dict[str, float]:
        out: dict[str, float] = {}
        names = sorted({n for r in records for n in r})
        for name in names:
            fields = sorted({f for r in records for f in r.get(name, {})})
            for f in fields:
                out[f"{name}.{f}"] = _median([r.get(name, {}).get(f, 0) for r in records])
        return out

    per_pass = []
    for layers in pass_layers:
        rec = {}
        for name, acc in layers.items():
            acc = dict(acc)
            rounds = acc.get("rounds")
            if rounds:
                acc["jobs_per_round"] = acc.get("jobs", 0) / rounds
                acc["driver_ms_per_round"] = acc.get("driver_s", 0.0) * 1000.0 / rounds
            rec[name] = {k: v for k, v in acc.items() if k in LAYER_FIELDS or "round" in k}
        per_pass.append(rec)
    metrics = fold(setup_layers)
    metrics.update(fold(per_pass))
    for key in sorted({k for c in pass_counts for k in c}):
        metrics[key] = _median([c.get(key, 0) for c in pass_counts])
    return metrics


def _cache_tag(args) -> str:
    """Scale plus a digest of the generator and oracle sources, so that a
    change to either never reads a stale cache."""
    digest = hashlib.sha1()
    for name in ("inputs.py", "oracles.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            digest.update(fh.read())
    return f"{args.scale}-{digest.hexdigest()[:10]}"


def _data_dir(args) -> str:
    return os.path.join(CACHE, f"{_cache_tag(args)}-seed{args.seed}")


def prepared(args) -> bool:
    import workloads

    d = _data_dir(args)
    names = ["done.json"] + [f"expected-{n}.parquet"
                             for n in workloads.WORKLOADS[args.workload].expected]
    return all(os.path.exists(os.path.join(d, n)) for n in names)


def prepare(args) -> None:
    """Generate (or find cached) the seed's inputs and the workload's
    expected outputs."""
    import inputs
    import oracles
    import workloads

    scale = inputs.TINY if args.scale == "tiny" else inputs.FULL
    data = inputs.materialize(CACHE, args.seed, scale, _cache_tag(args))
    oracles.expected(ROOT, data, list(workloads.WORKLOADS[args.workload].expected))


def run(args) -> dict:
    t_proc = time.perf_counter()
    phases: dict[str, float] = {}
    import inputs
    import oracles
    import workloads
    from collector import Tracer

    wl = workloads.WORKLOADS[args.workload]
    # inputs and expected outputs are made in a child process, so that
    # their memory never shows in this process's peak RSS
    if not prepared(args):
        prep = [sys.executable, os.path.abspath(__file__), "--prepare", "--workload", wl.name,
                "--seed", str(args.seed), "--scale", args.scale]
        subprocess.run(prep, check=True, timeout=600)
    data = _data_dir(args)
    meta = inputs.load_meta(data)
    expected = oracles.expected(ROOT, data, list(wl.expected))

    # scratch directories of runs that were killed before their clean-up
    # (one carrying this process's id is stale too: the id was reused)
    for stale in glob.glob(os.path.join(WORK, "run-*")):
        pid = stale.rsplit("-", 1)[1]
        if pid == str(os.getpid()) or not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    nproc = _nproc()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _driver_memory())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    conf = _session_conf(work)

    import pyspark
    from webgraph_big_spark.graph import Graph
    from webgraph_big_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    phases["prepared"] = time.perf_counter() - t_proc
    with PeakRss(enabled=bool(args.trace)) as rss:
        try:
            # -- set-up, several times: session start, input read, pins ----
            setup_s, setup_cpu, setup_layers = [], [], []
            for _ in range(SETUP_REPS):
                if spark is not None:
                    tracer.bind(None)
                    spark.stop()
                c0, _jit = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                # shuffle partitions = cores, as bench.py runs the engine
                spark, rec = tracer.layer(
                    "session", get_spark, "linkbench", cpus=nproc,
                    shuffle_partitions=nproc, extra_conf=conf,
                )
                tracer.bind(spark)
                setup_inputs, layer_recs = wl.setup(spark, tracer, data)
                setup_s.append(time.perf_counter() - t0)
                setup_cpu.append(tree_cpu_s(os.getpid())[0] - c0)
                setup_layers.append({"session": rec, **layer_recs})

            # -- the closed loop, in whole passes ------------------------------
            ctx = workloads.Context(spark, tracer, setup_inputs, data, meta, expected, work)
            ops = wl.ops(ctx)
            op_s: dict[str, list[float]] = {op.name: [] for op in ops}
            op_cpu: dict[str, list[float]] = {op.name: [] for op in ops}
            op_jit: dict[str, list[float]] = {op.name: [] for op in ops}
            pass_s, pass_layers, pass_counts = [], [], []
            attempted = failed = 0
            overhead0 = tracer.overhead_s
            wl_span = tracer.open(wl.name, "workload", seed=args.seed)
            t_start = time.perf_counter()
            steal0 = host_steal_s()
            phases["set_up"] = t_start - t_proc
            while True:
                ctx.pass_no += 1
                ctx.layers, ctx.counts = {}, {}
                p_span = tracer.open(f"pass{ctx.pass_no}", "pass")
                this_pass = 0.0
                for op in ops:
                    o_span = tracer.open(op.name, "op")
                    c0, j0 = tree_cpu_s(os.getpid())
                    t0 = time.perf_counter()
                    try:
                        out = op.run()
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        out = None
                    dt = time.perf_counter() - t0
                    c1, j1 = tree_cpu_s(os.getpid())
                    op_cpu[op.name].append(c1 - c0)
                    op_jit[op.name].append(j1 - j0)
                    tracer.close(o_span, wall_s=dt)
                    attempted += 1
                    op_s[op.name].append(dt)
                    this_pass += dt
                    if out is not None and args.corrupt == op.name:
                        out = _corrupt(out)
                    try:
                        ok = out is not None and op.check(out)
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        ok = False
                    if not ok:
                        failed += 1
                        print(f"linkbench: {wl.name}/{op.name} output differs from "
                              "its oracle", file=sys.stderr)
                tracer.close(p_span, wall_s=this_pass)
                wl.after_pass(ctx)
                pass_s.append(this_pass)
                pass_layers.append(ctx.layers)
                pass_counts.append(ctx.counts)
                shutil.rmtree(ctx.path(""), ignore_errors=True)
                if time.perf_counter() - t_start >= args.seconds:
                    break
            tracer.close(wl_span)
            steal_s = host_steal_s() - steal0
            overhead = (tracer.overhead_s - overhead0) / len(pass_s)

            for g in setup_inputs.values():
                (g.edges if isinstance(g, Graph) else g).unpersist()
            cached = _cached_relations(spark)
            phases["measured"] = time.perf_counter() - t_proc
        finally:
            if spark is not None:
                _stop_jvm(spark)
            shutil.rmtree(work, ignore_errors=True)

    env = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": args.scale,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "pyspark": pyspark.__version__,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "inputs": meta["sizes"],
        "passes": len(pass_s),
        "setup_wall_s": setup_s,
        "setup_cpu_s": setup_cpu,
        "op_s": {k: _median(v) for k, v in op_s.items()},
        "op_cpu_s": {k: _median(v) for k, v in op_cpu.items()},
        "op_jit_cpu_s": {k: _median(v) for k, v in op_jit.items()},
        "cached_relations": cached,
        "host_steal_s": steal_s,
        "phases_s": {**phases, "stopped": time.perf_counter() - t_proc},
    }
    e2e = {
        "setup_s": _median(setup_cpu),
        "pass_cpu_s": sum(_median(v) for v in op_cpu.values()),
    }
    env["pass_s"] = sum(_median(v) for v in op_s.values())
    layers = _layer_metrics(setup_layers, pass_layers, pass_counts)
    layers["driver.peak_rss_mb"] = rss.peak_kb / 1024.0
    layers["session.cached_relations"] = cached
    layers["trace.overhead_s"] = overhead
    layers["trace.pass_s"] = _median(pass_s)
    layers["jvm.jit_cpu_s"] = sum(_median(v) for v in op_jit.values())
    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        spans = os.path.join(WORK, f"spans-{args.scale}-{wl.name}-seed{args.seed}.jsonl")
        tracer.write(spans)
        env["spans"] = spans
    return {"env": env, "e2e": e2e, "layers": layers,
            "attempted": attempted, "failed": failed}


def result_line(res: dict, spec: dict, trace: bool) -> dict:
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["layers"] if trace else res["e2e"]
    unknown = sorted(set(values) - {m["name"] for m in wanted})
    if unknown and trace:
        print(f"linkbench: unlisted per-layer metrics {unknown}", file=sys.stderr)
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["rounds", "ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: the harness self-check's inputs")
    p.add_argument("--corrupt", default=None,
                   help="self-check: perturb this operation's output before its check")
    p.add_argument("--selfcheck", action="store_true",
                   help="tiny runs of every workload, then a corrupted one")
    p.add_argument("--prepare", action="store_true",
                   help="only generate the seed's inputs and expected outputs")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "webgraph_big_spark")):
        print(f"linkbench: no webgraph_big_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    if args.prepare:
        prepare(args)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.selfcheck:
        import selfcheck

        return selfcheck.main(spec)
    if args.workload is None:
        p.error("--workload is required")
    res = run(args)
    print(json.dumps({"env": res["env"]}))
    print(json.dumps(result_line(res, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    code = main()
    # Every file is closed and every process this run started has ended by
    # now.  Leave without the interpreter's teardown: a native library's
    # thread teardown at exit has aborted a finished run with SIGABRT
    # ("terminate called without an active exception").
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
