"""In-memory span recorder for the traced run.

Spans are recorded from outside the program: ``Tracer.patch`` replaces a
module attribute with a wrapper that opens a span around every call.  Spans
carry (id, name, start, end, parent, run_id) and are written out as one JSON
file when the run ends.  A disabled tracer's wrappers call straight through,
so one process can time traced and untraced passes side by side.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) so each
        call records a span called ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads call."""
    from data_quality_spark import pipeline, runner, session
    from data_quality_spark.operators import gate, rules
    from data_quality_spark.sources import io

    for name in ("featurize_files", "gate_files", "_text_heuristics",
                 "decide", "scrub_col"):
        tracer.patch(pipeline, name, f"pipeline.{name}")
    tracer.patch(session, "get_spark", "session.get_spark")
    tracer.patch(gate, "salted_gate_aggregate",
                 "operators.gate.salted_gate_aggregate")
    tracer.patch(rules, "compile_rules", "operators.rules.compile_rules")
    tracer.patch(runner, "run_gate_pipeline", "runner.run_gate_pipeline")
    # runner binds these names at import time: wrap its copies too
    tracer.patch(runner, "gate_files", "pipeline.gate_files")
    tracer.patch(runner, "append_metrics", "sources.io.append_metrics")
    tracer.patch(runner, "write_partitioned", "sources.io.write_partitioned")
    tracer.patch(io.LineageLedger, "mark", "sources.io.LineageLedger.mark")
