"""Harness self-check: ``python3 linkbench/run.py --selfcheck``.

Runs every workload on the tiny inputs, untraced and traced, and checks
that each prints every metric of BENCHMARK.json with its unit, that no
output check fails, and that every traced layer call nests inside its
operation, pass and workload spans.  Then it runs one workload with an
operation's output deliberately corrupted and checks that ``failed``
counts it.  Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["env"], json.loads(lines[-1])


def _check_result(res: dict, wanted: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, sorted(res)
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    names = [m["name"] for m in wanted]
    assert sorted(res["metrics"]) == sorted(names), set(res["metrics"]) ^ set(names)
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got["unit"])
        assert isinstance(got["value"], float), (m["name"], got["value"])


def _check_spans(path: str) -> int:
    with open(os.path.join(ROOT, path)) as fh:
        spans = [json.loads(line) for line in fh]
    by_id = {s["id"]: s for s in spans}
    parent_kind = {"pass": "workload", "op": "pass", "layer": "op"}
    layers = 0
    for s in spans:
        assert s["end"] >= s["start"], s
        if s["kind"] not in parent_kind:
            continue
        if s["kind"] == "layer" and s["parent"] is None:
            continue  # set-up calls (session start, pins) precede the workload
        p = by_id[s["parent"]]
        assert p["kind"] == parent_kind[s["kind"]], (s, p)
        assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
        layers += s["kind"] == "layer"
    return layers


def main(spec: dict) -> int:
    for workload in ("ingest", "rounds"):
        env, res = _run(workload, 0)
        _check_result(res, spec["end_to_end"])
        assert res["failed"] == 0 and res["correct"], res
        for m in spec["end_to_end"]:
            assert res["metrics"][m["name"]]["value"] > 0, m["name"]
        print(f"selfcheck: {workload} untraced ok: {res['attempted']} ops, "
              f"{len(res['metrics'])} metrics", flush=True)

        env, res = _run(workload, 1)
        _check_result(res, spec["per_layer"])
        assert res["failed"] == 0 and res["correct"], res
        nested = _check_spans(env["spans"])
        print(f"selfcheck: {workload} traced ok: {len(res['metrics'])} metrics, "
              f"{nested} layer spans nested in their operations", flush=True)

    env, res = _run("ingest", 0, "--corrupt", "simplify")
    assert res["failed"] >= 1 and not res["correct"], res
    print(f"selfcheck: corrupted simplify output counted: failed={res['failed']}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        print(f"  {m['name']} [{m['unit']}]")
    print("selfcheck: ok")
    return 0
