#!/usr/bin/env python3
"""Compare or summarize perfbench run records.

    python3 perfbench/compare.py BASE NEW       # record files or directories
    python3 perfbench/compare.py --summarize DIR  # medians and quartiles, JSON

Records come from ``.perfbench_out/`` (one JSON per run).  Records taken on
hosts with a different ``nproc`` or Spark ``local[N]`` are never compared:
the tool refuses with exit status 2.  For each workload and end-to-end
metric, NEW's median is checked against BASE's median with the metric's
bound from BENCHMARK.json; where BASE's own quartile spread is wider than
the bound the verdict is ``unresolved``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += glob.glob(os.path.join(p, "*.json"))
        else:
            files.append(p)
    recs = []
    for f in sorted(files):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            rec = json.load(fh)
        if "result" in rec and "host" in rec:
            recs.append(rec)
    return recs


def host_key(rec: dict) -> tuple:
    return rec["host"]["nproc"], rec["host"]["local_n"]


def stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def summarize(recs: list[dict]) -> dict:
    out: dict = {}
    for rec in recs:
        res = rec["result"]
        if not res["correct"]:
            continue
        w = out.setdefault(f"{rec['workload']}.trace{rec['trace']}",
                           {"seeds": [], "values": {}})
        w["seeds"].append(rec["seed"])
        for name, m in res["metrics"].items():
            w["values"].setdefault(name, []).append(m["value"])
    return {k: {"seeds": sorted(v["seeds"]),
                "metrics": {n: stats(x) for n, x in v["values"].items()}}
            for k, v in sorted(out.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--summarize", action="store_true")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    if args.summarize:
        recs = load(args.paths)
        hosts = {host_key(r) for r in recs}
        if len(hosts) > 1:
            print(f"refused: records from hosts {sorted(hosts)} (nproc, local_n)",
                  file=sys.stderr)
            return 2
        host = {k: v for k, v in recs[0]["host"].items()
                if not k.startswith("loadavg")} if recs else {}
        print(json.dumps({"host": host, "workloads": summarize(recs)},
                         indent=1))
        return 0
    if len(args.paths) != 2:
        ap.error("give BASE and NEW")
    base, new = load([args.paths[0]]), load([args.paths[1]])
    hosts = {host_key(r) for r in base + new}
    if len(hosts) != 1:
        print(f"refused: records from hosts {sorted(hosts)} (nproc, local_n) "
              "are not comparable", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sb, sn = summarize(base), summarize(new)
    worse = 0
    for key in sorted(set(sb) & set(sn)):
        for name, m in spec.items():
            if name not in sb[key]["metrics"] or name not in sn[key]["metrics"]:
                continue
            b, n = sb[key]["metrics"][name], sn[key]["metrics"][name]
            sign = 1 if m["better"] == "lower" else -1
            change = sign * (n["median"] - b["median"]) / b["median"]
            verdict = ("unresolved" if b["spread"] > m["bound"]
                       else "regression" if change > m["bound"] else "ok")
            worse += verdict == "regression"
            print(f"{key:24s} {name:12s} base {b['median']:.6g} "
                  f"new {n['median']:.6g} {m['unit']}  worse by {change:+.3f} "
                  f"(bound {m['bound']}, base spread {b['spread']:.3f}) "
                  f"{verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
