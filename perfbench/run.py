#!/usr/bin/env python3
"""Same-host benchmark of the dq-spark clips gate and health scan.

    python3 perfbench/run.py --workload gate_write --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload in turn

Run from the repository root.  One process per workload, Spark at
``local[nproc]``.  ``--trace 0`` measures the end-to-end metrics; ``--trace 1``
is the separate traced run that times each layer from outside (perfbench/
README.md has the layer ledger).  Every metric is printed as
``name = value unit``; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  Exit status is
non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

import host
import spans
import workloads

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2       # setups per untraced run; setup_s is their median
MIN_PASSES = 3   # timed passes (or traced rounds) per run, at least


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--cache", default=os.path.join(ROOT, ".perfbench_cache"),
                    help="generated inputs, cached by (seed, size, version)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def prepare_env(work: str) -> dict:
    """Keep every file Spark writes inside the checkout and let the Python
    workers import the package from it."""
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby",
    }


class Run:
    """One workload, one seed: setups, then timed passes or traced rounds."""

    def __init__(self, args) -> None:
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.run_id = uuid.uuid4().hex[:12]
        self.work = os.path.join(ROOT, ".perfbench_work", self.run_id)
        self.confs = prepare_env(self.work)
        self.wl = workloads.make(args.workload)
        self.wl.work = self.work
        self.attempted = self.failed = 0
        self.failures: list[dict] = []
        self.tasks: dict[str, list[int]] = {}
        self.failed_tasks = 0
        self.phases: dict[str, float] = {}
        self._t_phase = T_START
        self.pass_s: list[float] = []
        self.cpu_s: list[float] = []
        self.rounds: list[dict] = []
        self.extra: dict[str, float] = {}

    def phase(self, name: str) -> None:
        """Wall time since the previous phase mark, for the run record."""
        now = time.perf_counter()
        self.phases[name] = now - self._t_phase
        self._t_phase = now

    def attempt(self, spark, fn, label: str):
        """Run ``fn`` (returns (ok, detail, value)) under its own job group,
        counting the attempt, any failure or exception, and its tasks."""
        self.attempted += 1
        group = f"{label}-{self.attempted}"
        spark.sparkContext.setJobGroup(group, label)
        try:
            ok, detail, value = fn()
        except Exception as e:  # a pass that raises counts as failed
            ok, detail, value = False, {"error": repr(e)[:500]}, None
        if not ok:
            self.failed += 1
            self.failures.append({"what": label, **detail})
        done, bad = host.task_counts(spark.sparkContext, group)
        self.tasks.setdefault(label, []).append(done)
        self.failed_tasks += bad
        return ok, value

    def timed_pass(self, spark, label: str):
        """One workload pass; its output is checked after the timers stop.
        Value: (plan_s, act_s, cpu_s), cpu_s being the CPU time the pass
        cost the whole process tree."""

        def go():
            c0 = host.cpu_s()
            plan, act, out = self.wl.run(spark)
            cpu = host.cpu_s() - c0
            ok, detail = self.wl.check(spark, out)
            return ok, detail, (plan, act, cpu)

        return self.attempt(spark, go, label)

    def setup(self, session):
        """SETUPS x (get_spark + warm-up pass), after the inputs are
        generated or found in the cache."""
        self.inputs = self.wl.ensure_inputs(self.args.cache, self.args.seed,
                                            self.args.size)
        host.reset_peak_rss()
        self.phase("inputs")
        self.setup_s, self.get_spark_s = [], []
        spark = None
        for i in range(1 if self.args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(f"perfbench-{self.args.workload}",
                                      master=f"local[{self.nproc}]",
                                      extra_confs=self.confs)
            t_sess = time.perf_counter() - t0
            if i == 0:
                spark.sparkContext.setLogLevel("ERROR")
                self.host = host.host_record(spark, self.nproc)
            t1 = time.perf_counter()
            plan, act, out = self.wl.run(spark)
            t_warm = time.perf_counter() - t1
            if i == 0:
                self.wl.set_reference(spark, out)
            ok, detail = self.wl.check(spark, out)
            if not ok:
                raise RuntimeError(f"warm-up pass failed its check: {detail}")
            self.setup_s.append(t_sess + t_warm)
            self.get_spark_s.append(t_sess)
        self.phase("setup")
        return spark

    def end_to_end(self, spark) -> dict:
        # untimed passes first: the JIT keeps speeding passes up well past
        # the setups (health_scan's first passes cost 1.5x the later ones).
        # A pass count as well as a time, so a slow host still warms up.
        t_start = time.perf_counter()
        for i in itertools.count():
            if (i >= self.wl.warm_passes
                    and time.perf_counter() - t_start >= self.args.seconds / 2):
                break
            self.timed_pass(spark, "warm")
        pass_s, cpu_s = [], []
        t_start = time.perf_counter()
        for i in itertools.count():
            if i >= MIN_PASSES and time.perf_counter() - t_start >= self.args.seconds:
                break
            ok, val = self.timed_pass(spark, "pass")
            if ok:
                pass_s.append(val[0] + val[1])
                cpu_s.append(val[2])
        self.pass_s, self.cpu_s = pass_s, cpu_s
        rows = self.inputs["rows"]
        rates = sorted(rows / t for t in cpu_s if t > 0)
        self.extra = {
            # the costliest pass: the highest percentile n passes support
            "rows_per_cpu_s.p_low": rates[0] if rates else 0.0,
            "rows_per_cpu_s.n": len(rates),
            # wall-clock throughput swings with the host's other tenants
            # (2x under a busy neighbour), so it is recorded, not bounded
            "rows_per_s": workloads.median([rows / t for t in pass_s]),
        }
        return {"rows_per_cpu_s": workloads.median(rates)}

    def per_layer(self, spark, tracer) -> dict:
        steps = self.wl.ladder(spark)
        rounds = []
        t_start = time.perf_counter()
        for i in itertools.count():
            if i >= MIN_PASSES and time.perf_counter() - t_start >= self.args.seconds:
                break
            r = {}
            tracer.enabled = True
            for name, build in steps:
                with tracer.span(f"ladder.{name}"):
                    ok, val = self.attempt(spark, lambda: self._noop_step(build),
                                           f"ladder.{name}")
                if ok:
                    r[name] = val
            # the untraced and the traced full pass run back to back, in
            # alternating order, so neither always follows the ladder
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                tracer.enabled = traced
                with tracer.span("ladder.full"):
                    ok, val = self.timed_pass(
                        spark, "full" if traced else "untraced")
                if ok:
                    r["full" if traced else "untraced"] = {
                        "plan": val[0], "act": val[1]}
            if len(r) == len(steps) + 2:
                rounds.append(r)
        tracer.enabled = False
        self.rounds = rounds

        med = workloads.median
        selfs: dict[str, list[float]] = {}
        for r in rounds:
            for k, v in self.wl.self_times(r).items():
                selfs.setdefault(k, []).append(v)
        m = {k: med(v) for k, v in selfs.items()}
        wall = med([r["full"]["plan"] + r["full"]["act"] for r in rounds])
        untraced = med([r["untraced"]["plan"] + r["untraced"]["act"]
                        for r in rounds])
        m["trace.wall_s"] = wall
        m["trace.overhead_frac"] = wall / untraced - 1 if untraced else 0.0
        attributed = sum(m[k] for k in selfs if k not in self.wl.off_path)
        m["trace.unattributed_frac"] = 1 - attributed / wall if wall else 0.0
        m["session.get_spark_s"] = med(self.get_spark_s)
        m["spark.tasks"] = med(self.tasks.get("full", []))
        m["spark.failed_tasks"] = self.failed_tasks
        m.update(self.direct_layers(spark))
        return m

    def _noop_step(self, build):
        """Plan a ladder prefix and write it to the noop sink."""
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return True, {}, {"plan": t1 - t0, "act": time.perf_counter() - t1}

    def direct_layers(self, spark) -> dict:
        """Layers timed by direct single-process calls and exact counts."""
        import pyarrow.parquet as pq

        from data_quality_spark import pipeline as P

        m = {}
        if self.args.workload != "gate_write":
            return m
        path = self.inputs["path"]
        files = workloads.parquet_files(path)
        m["pipeline.featurize_files.files"] = len(files)
        m["pipeline.featurize_files.row_groups"] = sum(
            pq.ParquetFile(f).metadata.num_row_groups for f in files)
        m["pipeline.featurize_files.tasks"] = (
            P.featurize_files(spark, path).rdd.getNumPartitions())
        m["pipeline.read.s"], m["pipeline.read.bytes"] = workloads.read_cost(path)
        m.update(workloads.kernel_costs(path))
        m.update(workloads.io_costs(spark, os.path.join(self.work, "io")))
        m.update(self.wl.last_silver)
        m["runner.silver_bytes_per_row"] = (
            m["runner.silver_bytes"] / max(m["runner.rows_kept"], 1))
        return m

    def execute(self) -> dict:
        from data_quality_spark import session

        args = self.args
        load_before = host.loadavg()
        sampler = host.RssSampler().start()
        tracer = spans.Tracer(self.run_id)
        if args.trace:
            spans.install(tracer)
            tracer.enabled = True
        spark = None
        try:
            spark = self.setup(session)
            tracer.enabled = False
            if args.trace:
                metrics = self.per_layer(spark, tracer)
            else:
                metrics = self.end_to_end(spark)
            self.phase("measure")
            if self.wl.name == "gate_write":
                self.attempt(spark, lambda: (*self.wl.oracle(spark), None),
                             "oracle_check")
                self.phase("oracle")
        finally:
            self.peak_rss_mb = sampler.stop()
            if spark is not None:
                host.shutdown(spark)
            shutil.rmtree(self.work, ignore_errors=True)
            self.phase("shutdown")
        metrics["setup_s"] = workloads.median(self.setup_s)
        # the JVM's peak follows G1 heap growth and moves by +-30% between
        # identical runs, so it is recorded but not part of the metric
        metrics["peak_rss_mb"] = max(v for k, v in self.peak_rss_mb.items()
                                     if k != "jvm")
        return self.report(metrics, load_before, host.loadavg(), tracer)

    def report(self, metrics, load_before, load_after, tracer) -> dict:
        sp = spec()
        listed = sp["per_layer"] if self.args.trace else sp["end_to_end"]
        out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in listed}
        correct = self.failed == 0
        record = {
            "run_id": self.run_id, "workload": self.args.workload,
            "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.args.trace, "size": self.args.size,
            "host": {**self.host, "loadavg_before": load_before,
                     "loadavg_after": load_after},
            "inputs": {k: v for k, v in self.inputs.items()
                       if k not in ("path", "expected")},
            "phases_s": self.phases,
            "peak_rss_mb": self.peak_rss_mb,
            "setup_s": self.setup_s, "get_spark_s": self.get_spark_s,
            "pass_s": self.pass_s, "cpu_s": self.cpu_s,
            "rounds": self.rounds, "extra": self.extra,
            "error_rate": self.failed / max(self.attempted, 1),
            "failures": self.failures,
            "result": {"correct": correct, "attempted": self.attempted,
                       "failed": self.failed, "metrics": out},
        }
        results = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(results, exist_ok=True)
        stem = (f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}"
                f"-{self.run_id}")
        with open(os.path.join(results, stem + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if self.args.trace:
            tracer.write(os.path.join(results, stem + ".spans.json"))
        return record


def print_record(record: dict) -> None:
    res = record["result"]
    print(f"# {record['workload']} seed={record['seed']} "
          f"trace={record['trace']} nproc={record['host']['nproc']} "
          f"rows={record['inputs']['rows']} bytes={record['inputs']['bytes']} "
          f"gen_s={record['inputs']['gen_s']}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, v in record["extra"].items():
        print(f"{name} = {v:.6g}")
    for role, mb in record["peak_rss_mb"].items():
        print(f"peak_rss_mb.{role} = {mb:.6g} MB")
    print(f"error_rate = {record['error_rate']:.6g} "
          f"({res['failed']}/{res['attempted']})")
    for f in record["failures"]:
        print(f"FAILED {json.dumps(f)}")


def run_all(args) -> int:
    """Every workload in its own process; one summary line at the end."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size,
               "--cache", args.cache]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        summary["correct"] &= res["correct"] and proc.returncode == 0
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = v
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "data_quality_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout that holds data_quality_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    record = Run(args).execute()
    print_record(record)
    print(json.dumps(record["result"]), flush=True)
    return 0 if record["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
