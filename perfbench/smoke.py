#!/usr/bin/env python3
"""Smoke test of the benchmark itself: ``python3 perfbench/smoke.py``.

Runs every workload untraced and traced on the tiny inputs and asserts that
each run passes all its checks and emits exactly the metric names that
BENCHMARK.json lists.  Also asserts that a seed reproduces an identical
input digest while another seed changes it, and that the benchmark refuses
to run in a directory holding only itself.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                        "run.py")] + args,
                          cwd=cwd, stdout=subprocess.PIPE, text=True,
                          timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(workloads.WORKLOADS), names
    scratch = os.path.join(ROOT, ".perfbench_work", "smoke")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)

    # same seed, same digest; another seed, another digest
    tiny = workloads.SIZES["tiny"]
    for kind, make in (
        ("clips", lambda c, s: workloads.ensure_clips(c, s, tiny["clips"])),
        ("table", lambda c, s: workloads.ensure_table(c, s, tiny["rows"])),
    ):
        a = make(os.path.join(scratch, "a"), 11)["digest"]
        b = make(os.path.join(scratch, "b"), 11)["digest"]
        c = make(os.path.join(scratch, "b"), 12)["digest"]
        assert a == b != c, (kind, a, b, c)
        print(f"ok  {kind} digest reproduces per seed")

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for name in names:
            rc, lines = run(["--workload", name, "--seed", "3", "--seconds",
                             "1", "--trace", str(trace), "--size", "tiny"])
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert rc == 0 and res["correct"] and res["failed"] == 0, lines
            assert got == want, (name, trace, sorted(set(got) ^ set(want)))
            assert all(isinstance(v["value"], float)
                       for v in res["metrics"].values())
            print(f"ok  {name} trace={trace}: {res['attempted']} checked, "
                  f"{len(got)} metrics")

    # a directory holding only the benchmark: non-zero exit, no result line
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, lines = run(["--workload", names[0], "--seed", "1", "--seconds", "1",
                     "--trace", "0"], cwd=bare)
    assert rc != 0 and not lines, (rc, lines)
    print("ok  refuses to run without the program")
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
