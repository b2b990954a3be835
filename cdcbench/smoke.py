#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at its smallest size.

    python3 cdcbench/smoke.py

Checks, in order (about six minutes on a 4-CPU box):

1. the generator is deterministic: the same seed gives byte-identical
   staged files and the same gate corpus, another seed different ones;
2. every workload runs once with ``--seconds 1`` (one delete cycle of
   upsert batches, three stream batches), is correct and prints every
   end-to-end metric named in ``BENCHMARK.json``;
3. a traced run, which also runs the curation gates against their DuckDB
   oracles, prints every per-layer metric;
4. a deliberately wrong expectation (``--corrupt-expected``) makes the
   command fail;
5. in a directory holding only ``BENCHMARK.json`` and the benchmark's own
   files (no package to measure) the command fails without a result.

Exits 0 when all pass.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORK = os.path.join(ROOT, ".cdcbench_work", "smoke")


def check_determinism() -> None:
    a = gen.hot_table_inputs(5, os.path.join(WORK, "a"), 2)
    b = gen.hot_table_inputs(5, os.path.join(WORK, "b"), 2)
    c = gen.hot_table_inputs(6, os.path.join(WORK, "c"), 2)
    assert a.digest == b.digest != c.digest, "hot-table inputs are not seed-determined"
    for fa, fb in zip([a.snapshot_file] + a.batch_files, [b.snapshot_file] + b.batch_files):
        assert filecmp.cmp(fa, fb, shallow=False), f"{fa} and {fb} differ"
    f1 = gen.fanout_inputs(5, os.path.join(WORK, "f1"), 4)
    f2 = gen.fanout_inputs(5, os.path.join(WORK, "f2"), 4)
    assert f1.digest == f2.digest, "fan-out inputs are not seed-determined"
    # the evolving table gains a column, so the model widens with it
    wide = f1.model.columns("dbserver1.shop.t2", 4)
    assert "x0" in wide and "x0" not in f1.model.columns("dbserver1.shop.t2", 1)
    c1 = gen.corpus_inputs(5, os.path.join(WORK, "c1"))
    c2 = gen.corpus_inputs(5, os.path.join(WORK, "c2"))
    c3 = gen.corpus_inputs(6, os.path.join(WORK, "c3"))
    assert c1 == c2 != c3, "the gate corpus is not seed-determined"
    print("ok   generator determinism")


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    return p.returncode, result


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    check_determinism()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}

    for w in bench["workloads"]:
        code, res = run(["--workload", w["name"], "--seed", "3", "--seconds", "1", "--trace", "0"])
        assert code == 0 and res and res["correct"], f"{w['name']}: exit {code}, {res}"
        assert set(res["metrics"]) == e2e, f"{w['name']}: metrics {sorted(res['metrics'])}"
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
        print(f"ok   {w['name']}: {res['attempted']} checks, metrics complete")

    name = bench["workloads"][0]["name"]
    code, res = run(["--workload", name, "--seed", "3", "--seconds", "1", "--trace", "1"])
    assert code == 0 and res and res["correct"], f"traced {name}: exit {code}, {res}"
    assert set(res["metrics"]) == layer, f"traced metrics {sorted(res['metrics'])}"
    print(f"ok   traced {name}: per-layer metrics complete")

    code, res = run(["--workload", name, "--seed", "3", "--seconds", "1", "--trace", "0", "--corrupt-expected"])
    assert code != 0 and res and not res["correct"] and res["failed"] >= 1, (code, res)
    print(f"ok   corrupted expectation fails the command ({res['failed']} failed)")

    bare = os.path.join(WORK, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "cdcbench"), ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(["--workload", name, "--seed", "3", "--seconds", "1", "--trace", "0"], cwd=bare)
    assert code != 0 and res is None, (code, res)
    print("ok   without the package the command fails and prints no result")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
