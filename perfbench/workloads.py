"""Inputs, timed passes, output checks and layer ladders of the workloads.

Every workload gets its inputs from ``--seed`` alone: ``gate_write`` reads
a clips corpus (the rows of ``synth.generate_clips_distributed``, written
uncompressed and partitioned by ``ingest_day``), ``health_scan`` reads a
scalar table whose defect strides are drawn from the seed, so its issue
counts have a closed form.  Generated inputs are cached by (kind, seed,
size, ``CORPUS_VERSION``); the program only ever sees the written files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import time

SIZES = {
    "bench": {"clips": 2400, "rows": 2_000_000},
    "tiny": {"clips": 240, "rows": 20_000},
}
CLIP_SHARDS = 8    # generator shards; each writes one file per ingest_day
TABLE_FILES = 16
KEEP_INPUTS = 4    # cached inputs kept per kind (least recently used go)
ORACLE_SAMPLE = 150
HASH_K = 2654435761

# the columns salted_gate_aggregate reads: the rollup's decide prefix
# (Catalyst prunes the rest, the scrub chain included)
ROLLUP_COLS = ["lang_pred", "codec", "clip_id", "decision", "rms_db", "ppl",
               "dur_ms"]
WORKLOADS = ("gate_write", "health_scan")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def parquet_files(path: str) -> list[str]:
    return sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                       recursive=True)
                  if not os.path.basename(f).startswith("_"))


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


# ------------------------------------------------------------------ inputs


def _cached(cache: str, key: str, build) -> dict:
    """Return the cached input ``key``, building it with ``build(data_dir)``
    (which returns its metadata) on a miss; evict the oldest entries."""
    entry = os.path.join(cache, key)
    meta_path = os.path.join(entry, "meta.json")
    if os.path.exists(meta_path):
        os.utime(meta_path)
        with open(meta_path) as f:
            meta = json.load(f)
        meta["gen_s"] = None
    else:
        shutil.rmtree(entry, ignore_errors=True)
        os.makedirs(entry)
        t0 = time.perf_counter()
        meta = build(os.path.join(entry, "data"))
        meta["gen_s"] = time.perf_counter() - t0
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    kind = key.split("_", 1)[0]
    entries = sorted(
        (os.path.getmtime(os.path.join(d, "meta.json")), d)
        for d in glob.glob(os.path.join(cache, kind + "_*"))
        if os.path.exists(os.path.join(d, "meta.json")))
    for _mtime, d in entries[:-KEEP_INPUTS]:
        shutil.rmtree(d, ignore_errors=True)
    meta["path"] = os.path.join(entry, "data")
    return meta


def clips_digest(path: str) -> str:
    """sha256 over every row (clip_id order) including its partition day."""
    import pyarrow.parquet as pq

    rows = []
    for f in parquet_files(path):
        day = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
        t = pq.read_table(f).to_pydict()
        for i, cid in enumerate(t["clip_id"]):
            rows.append((cid, t["sr_hz"][i], t["dur_ms"][i], t["codec"][i],
                         t["transcript"][i], day,
                         hashlib.sha256(t["bytes"][i] or b"").hexdigest()))
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _write_clip_shard(data: str, seed: int, shard: int, count: int,
                      offset: int) -> None:
    """One shard of ``synth.generate_clips_distributed``: the same per-shard
    seed and clip_id range, written as one uncompressed file per day."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_spark.synth import generate_clips

    pdf = generate_clips(count, seed=seed + 100_003 * shard)
    pdf["clip_id"] = [f"clip{offset + j:010d}" for j in range(len(pdf))]
    schema = pa.schema([("clip_id", pa.string()), ("bytes", pa.binary()),
                        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
                        ("codec", pa.string()), ("transcript", pa.string())])
    for day, part in pdf.groupby("ingest_day"):
        d = os.path.join(data, f"ingest_day={day}")
        os.makedirs(d, exist_ok=True)
        t = pa.Table.from_pandas(part[schema.names], schema=schema,
                                 preserve_index=False)
        pq.write_table(t, os.path.join(d, f"part-{shard:05d}.parquet"),
                       compression="none")


def ensure_clips(cache: str, seed: int, n: int) -> dict:
    """The clips corpus ``generate_clips_distributed(n, seed, CLIP_SHARDS)``
    yields, row for row, generated shard by shard without Spark."""
    from data_quality_spark.synth import CORPUS_VERSION

    def build(data: str) -> dict:
        per = [n // CLIP_SHARDS + (i < n % CLIP_SHARDS)
               for i in range(CLIP_SHARDS)]
        for i in range(CLIP_SHARDS):
            if per[i]:
                _write_clip_shard(data, seed, i, per[i], sum(per[:i]))
        return {"rows": n, "bytes": tree_bytes(data),
                "digest": clips_digest(data)}

    return _cached(cache, f"clips_s{seed}_n{n}_v{CORPUS_VERSION}", build)


def table_params(seed: int, rows: int) -> dict:
    """Seed-drawn defect strides and the issue counts they imply."""
    null_every = 40 + seed % 21
    zombie_every = 90 + (seed // 21) % 17
    score_mod = 1002 + (seed // 357) % 13   # score > 100 when id % mod > 1000
    domain = rows - rows // (20 + (seed // 4641) % 11)
    while math.gcd(HASH_K, domain) != 1:
        domain -= 1
    # user_id = id * K mod domain is a bijection on [0, domain) and the ids
    # cover it, so exactly ``domain`` distinct user_ids exist
    return {
        "null_every": null_every, "zombie_every": zombie_every,
        "score_mod": score_mod, "domain": domain,
        "expected": {
            "nulls": (rows - 1) // null_every + 1,
            "enum": (rows - 1) // zombie_every + 1,
            "range": (rows // score_mod) * (score_mod - 1001)
            + max(0, rows % score_mod - 1001),
            "duplicate": rows - domain,
        },
    }


def ensure_table(cache: str, seed: int, rows: int) -> dict:
    """The scalar table of ``bench.ensure_wide_table``'s shape (id, user_id,
    email, score, status) with the seed's strides, in TABLE_FILES files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_quality_spark.synth import CORPUS_VERSION

    p = table_params(seed, rows)

    def build(data: str) -> dict:
        os.makedirs(data)
        h = hashlib.sha256()
        step = -(-rows // TABLE_FILES)
        for i, lo in enumerate(range(0, rows, step)):
            ids = np.arange(lo, min(lo + step, rows), dtype=np.int64)
            email = pc.binary_join_element_wise(
                "u", pa.array(ids).cast(pa.string()), "@example.com", "")
            status = np.where(ids % 2 == 0, 0, 1).astype(np.int8)
            status[ids % p["zombie_every"] == 0] = 2
            t = pa.table({
                "id": ids,
                "user_id": (ids * HASH_K) % p["domain"],
                "email": pc.if_else(pa.array(ids % p["null_every"] == 0),
                                    pa.scalar(None, pa.string()), email),
                "score": (ids % p["score_mod"]).astype(np.float64) / 10.0,
                "status": pa.DictionaryArray.from_arrays(
                    status, ["active", "inactive", "zombie"]).cast(pa.string()),
            })
            for col in t.columns:
                for buf in col.chunk(0).buffers():
                    if buf is not None:
                        h.update(buf)
            pq.write_table(t, os.path.join(data, f"part-{i:05d}.parquet"))
        return {"rows": rows, "bytes": tree_bytes(data),
                "digest": h.hexdigest()}

    meta = _cached(cache, f"table_s{seed}_n{rows}_v{CORPUS_VERSION}", build)
    meta["expected"] = p["expected"]
    return meta


# ------------------------------------------------------------ gate pieces


def const_kernel(fields):
    """A kernel with the real kernel's output schema and constant output:
    the featurize pass with it costs read + Arrow transport only."""
    from pyspark.sql.pandas.types import to_arrow_type

    types = [(f.name, to_arrow_type(f.dataType)) for f in fields]

    def kernel(batch, col_idx):
        import pyarrow as pa

        n = batch.num_rows
        out = []
        for name, t in types:
            if name == "decode_ok":
                out.append(pa.array([True] * n, t))
            elif pa.types.is_string(t):
                out.append(pa.array(["en"] * n, t))
            else:
                out.append(pa.array([1] * n, pa.int64()).cast(t))
        return out

    return kernel


def rollup_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def f1_keep(truth: list[str], pred: list[str]) -> float:
    tp = sum(t == p == "keep" for t, p in zip(truth, pred))
    fp = sum(t != "keep" and p == "keep" for t, p in zip(truth, pred))
    fn = sum(t == "keep" and p != "keep" for t, p in zip(truth, pred))
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def oracle_check(spark, path: str) -> tuple[bool, dict]:
    """v1 decisions of a fixed sample (the first clips of the first day)
    against ``synth.oracle_gate``: F1 >= 0.99 on keep/drop, scrub
    byte-equal."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_quality_spark import pipeline as P
    from data_quality_spark.synth import oracle_gate

    day_dir = sorted(glob.glob(os.path.join(path, "ingest_day=*")))[0]
    day = day_dir.split("=", 1)[1]
    pdf = (pq.ParquetDataset(day_dir).read().to_pandas()
           .sort_values("clip_id").head(ORACLE_SAMPLE).reset_index(drop=True))
    pdf["ingest_day"] = day
    want = oracle_gate(pdf).set_index("clip_id")
    ids = list(pdf["clip_id"])

    rows = (P.gate_files(spark, path,
                         partition_filter=lambda pv: pv.get("ingest_day") == day)
            .filter(F.col("clip_id").isin(ids))
            .select("clip_id", "decision", "scrubbed").collect())
    got = {r["clip_id"]: (r["decision"], r["scrubbed"]) for r in rows}
    ok = sorted(got) == sorted(ids)
    f1 = f1_keep([want.loc[i, "decision"] for i in ids],
                 [got.get(i, (None, None))[0] for i in ids]) if ok else 0.0
    scrub_bad = sum(got.get(i, (None, None))[1] != want.loc[i, "scrubbed"]
                    for i in ids)
    detail = {"sample": len(ids), "f1": f1, "scrub_mismatches": scrub_bad}
    return ok and f1 >= 0.99 and scrub_bad == 0, detail


# ------------------------------------------------------------- workloads


class GateWrite:
    """gate_write: ``runner.run_gate_pipeline`` (the CLI ``gate`` job) with
    resume off into a fresh output root every pass."""

    name = "gate_write"
    warm_passes = 3    # untimed passes after the setups, at least
    # measured in the traced run, but not on this workload's path
    off_path = ("operators.gate.salted_gate_aggregate.self_s",)

    def __init__(self) -> None:
        self.inputs = None
        self.rollup = None
        self.passes = 0
        self.last_silver = {}

    def ensure_inputs(self, cache, seed, size) -> dict:
        self.inputs = ensure_clips(cache, seed, SIZES[size]["clips"])
        return self.inputs

    def set_reference(self, spark, out) -> None:
        # the rollup the runner's observe() counters must agree with
        from data_quality_spark import pipeline as P
        from data_quality_spark.operators import gate as G

        self.rollup = rollup_rows(G.salted_gate_aggregate(
            P.gate_files(spark, self.inputs["path"])).collect())

    def run(self, spark):
        """One pass as a user runs it. Returns (plan_s, act_s, output)."""
        from data_quality_spark import runner as R

        self.passes += 1
        self.out_root = os.path.join(self.work, f"out{self.passes}")
        shutil.rmtree(self.out_root, ignore_errors=True)
        t0 = time.perf_counter()
        totals = R.run_gate_pipeline(spark, self.inputs["path"], self.out_root,
                                     resume=False)
        return 0.0, time.perf_counter() - t0, totals

    def check(self, spark, out) -> tuple[bool, dict]:
        silver = os.path.join(self.out_root, "silver")
        n_in = sum(r[2] for r in self.rollup)
        n_keep = sum(r[3] for r in self.rollup)
        back = spark.read.parquet(silver).count()
        self.last_silver = {
            "runner.silver_files": len(parquet_files(silver)),
            "runner.silver_bytes": tree_bytes(silver),
            "runner.rows_kept": back,
        }
        shutil.rmtree(self.out_root, ignore_errors=True)
        ok = (out["completed"] and out["rows_in"] == n_in == self.inputs["rows"]
              and out["rows_kept"] == n_keep == back)
        return ok, {"rows_in": out["rows_in"], "rows_kept": out["rows_kept"],
                    "silver_rows": back}

    def oracle(self, spark):
        return oracle_check(spark, self.inputs["path"])

    def ladder(self, spark):
        """Nested plan prefixes of the runner's plan, each written to the
        noop sink, plus the salted rollup over the same decide output."""
        from data_quality_spark import pipeline as P
        from data_quality_spark.operators import gate as G
        from data_quality_spark.runner import OUTPUT_COLS

        path = self.inputs["path"]
        const = const_kernel(P.FEATURES_TYPE.fields)

        def heur():
            return P._text_heuristics(P.featurize_files(spark, path))

        return [
            ("transport", lambda: P.featurize_files(spark, path, kernel=const)),
            ("featurize", lambda: P.featurize_files(spark, path)),
            ("heuristics", heur),
            ("decide", lambda: P.decide(heur()).select(
                *[c for c in OUTPUT_COLS if c != "scrubbed"])),
            ("scrub", lambda: P.decide(heur()).select(*OUTPUT_COLS)),
            ("rollup_input", lambda: P.decide(heur()).select(*ROLLUP_COLS)),
            ("rollup", lambda: G.salted_gate_aggregate(P.decide(heur()))),
        ]

    def self_times(self, r: dict) -> dict:
        """Per-layer self time in one round of the ladder: the difference
        between the walls (plan + action) of consecutive prefixes, so the
        driver-side plan building of each layer is counted in that layer."""
        w = {k: v["plan"] + v["act"] for k, v in r.items()}
        return {
            "pipeline.featurize_files.plan_s": r["featurize"]["plan"],
            "pipeline.featurize_files.transport_s": r["transport"]["act"],
            "pipeline.featurize_files.kernel_self_s":
                w["featurize"] - w["transport"],
            "pipeline._text_heuristics.self_s": w["heuristics"] - w["featurize"],
            "pipeline.decide.self_s": w["decide"] - w["heuristics"],
            "pipeline.scrub_col.self_s": w["scrub"] - w["decide"],
            "runner.write.self_s": w["full"] - w["scrub"],
            "operators.gate.salted_gate_aggregate.self_s":
                w["rollup"] - w["rollup_input"],
        }


HEALTH_COLS = ["user_id", "email", "score", "status"]


def health_rules():
    from pyspark.sql import functions as F

    from data_quality_spark.operators.rules import Rule

    return [
        Rule("nulls", "email", predicate=lambda d: d.email.isNull(),
             severity="warning"),
        Rule("enum", "status",
             predicate=lambda d: ~d.status.isin(["active", "inactive"]),
             severity="critical"),
        Rule("range", "score",
             predicate=lambda d: (d.score < 0) | (d.score > 100),
             severity="warning"),
        Rule("duplicate", "user_id",
             agg=lambda d: F.count(d.user_id) - F.count_distinct(d.user_id),
             severity="warning"),
    ]


class Health:
    """health_scan: four fused rules over the scalar table, pure JVM."""

    name = "health_scan"
    warm_passes = 6
    off_path = ()

    def __init__(self) -> None:
        self.inputs = None

    def ensure_inputs(self, cache, seed, size) -> dict:
        self.inputs = ensure_table(cache, seed, SIZES[size]["rows"])
        return self.inputs

    def run(self, spark):
        from data_quality_spark.operators import rules

        t0 = time.perf_counter()
        df = rules.compile_rules(spark.read.parquet(self.inputs["path"]),
                                 "wide", health_rules())
        t1 = time.perf_counter()
        out = {r["issue_type"]: (r["count"], r["total"]) for r in df.collect()}
        return t1 - t0, time.perf_counter() - t1, out

    def set_reference(self, spark, out) -> None:
        pass

    def check(self, spark, out) -> tuple[bool, dict]:
        want = {k: (v, self.inputs["rows"])
                for k, v in self.inputs["expected"].items()}
        return out == want, {"issues": {k: v[0] for k, v in out.items()}}

    def ladder(self, spark):
        return [("scan", lambda: spark.read.parquet(self.inputs["path"])
                 .select(*HEALTH_COLS))]

    def self_times(self, r: dict) -> dict:
        return {
            "operators.rules.scan_s": r["scan"]["plan"] + r["scan"]["act"],
            "operators.rules.compile_rules.self_s":
                r["full"]["plan"] + r["full"]["act"]
                - r["scan"]["plan"] - r["scan"]["act"],
        }


def make(name: str):
    if name == "gate_write":
        return GateWrite()
    if name == "health_scan":
        return Health()
    raise ValueError(f"unknown workload {name!r}")


# ------------------------------------------------ direct single-process calls


def _per_call(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def read_cost(path: str) -> tuple[float, int]:
    """One process reading every row group the way featurize_files does."""
    import pyarrow.parquet as pq

    nbytes = 0

    def read_all():
        nonlocal nbytes
        nbytes = 0
        for f in parquet_files(path):
            pf = pq.ParquetFile(f, memory_map=True)
            for rg in range(pf.metadata.num_row_groups):
                nbytes += pf.read_row_group(rg).nbytes

    return _per_call(read_all), nbytes


def kernel_costs(path: str, n: int = 512, n_v2: int = 128) -> dict:
    """Per-clip cost (µs) of each kernel on the corpus's first clips."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_spark import pipeline as P
    from data_quality_spark.functions import audio as A
    from data_quality_spark.functions import text as X

    tables, have = [], 0
    for f in parquet_files(path):
        t = pq.read_table(f, columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                                      "codec", "transcript"])
        tables.append(t)
        have += t.num_rows
        if have >= n:
            break
    batch = pa.concat_tables(tables).slice(0, n).combine_chunks().to_batches()[0]
    n = batch.num_rows
    col_idx = {name: i for i, name in enumerate(batch.schema.names)}
    payload = batch.column(col_idx["bytes"])
    codecs = batch.column(col_idx["codec"]).to_pylist()
    srs = batch.column(col_idx["sr_hz"]).to_pylist()
    texts = batch.column(col_idx["transcript"]).to_pylist()
    off_dt = np.int64 if pa.types.is_large_binary(payload.type) else np.int32
    offsets = np.frombuffer(payload.buffers()[1], dtype=off_dt, count=n + 1,
                            offset=payload.offset * np.dtype(off_dt).itemsize)
    data = np.frombuffer(payload.buffers()[2], dtype=np.uint8)

    def decode_all():
        for i in range(n):
            try:
                A.decode_stats(data[offsets[i]:offsets[i + 1]], codecs[i],
                               int(srs[i]) if srs[i] is not None else None)
            except (ValueError, TypeError):
                pass

    langs, _ = X.LANGID.score_batch(texts)
    small = batch.slice(0, min(n_v2, n))
    us = 1e6
    return {
        "functions.audio.decode_stats_us": _per_call(decode_all) * us / n,
        "functions.text.langid_us":
            _per_call(lambda: X.LANGID.score_batch(texts)) * us / n,
        "functions.text.ppl_us":
            _per_call(lambda: X.PPLM.ppl_batch(texts, langs)) * us / n,
        "pipeline._feature_batch_us":
            _per_call(lambda: P._feature_batch(batch, col_idx)) * us / n,
        "pipeline._feature_batch_v2_us":
            _per_call(lambda: P._feature_batch_v2(small, col_idx)) * us
            / small.num_rows,
    }


def io_costs(spark, root: str) -> dict:
    """append_metrics and LineageLedger.mark timed as the runner calls them."""
    from data_quality_spark.sources import io

    shutil.rmtree(root, ignore_errors=True)
    rows = [("bench", f"ingest_day=2026-01-0{d}", "rows_in", 1.0, "")
            for d in range(1, 8)]
    append_s = _per_call(lambda: io.append_metrics(spark, root, rows))
    ledger = io.LineageLedger(root, "bench")
    mark_s = _per_call(lambda: ledger.mark("2026-01-01", "done", 1, 1, "r"), 7)
    shutil.rmtree(root, ignore_errors=True)
    return {"sources.io.append_metrics_s": append_s,
            "sources.io.ledger_mark_s": mark_s}
