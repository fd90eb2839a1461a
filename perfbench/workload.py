"""The workload process: builds the session, runs one workload module
(``serve``, ``ingest`` or ``curate``), adds the host meters and, in a
traced run, the event-log figures, and writes ``result.json``.

A workload module exposes ``run(ctx) -> dict`` returning ``e2e``
(end-to-end values), ``layers`` (per-layer values), ``attempted``,
``failed``, ``correct``, ``props`` (the input properties it measured)
and ``op_s`` (the summed duration of its timed operations, the base of
the tracing overhead). It calls ``ctx.start_timing()`` right before its
first timed operation; ``setup_s`` runs from process spawn to that call.
"""

from __future__ import annotations

import importlib
import json
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from harness import (
    Tracer,
    box_fit,
    event_log,
    jit_settle,
    peak_rss_mb,
    proc_stat,
    steal_pct,
    witness,
)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    run_dir: str
    t0: float
    spark: object = None
    tracer: Tracer | None = None
    witness: dict = field(default_factory=dict)
    setup_s: float | None = None
    session_ms: float = 0.0
    # seconds since spawn at the end of each setup phase, for the record
    phases: dict[str, float] = field(default_factory=dict)
    # job groups whose event-log figures a module wants, by metric prefix
    log_groups: dict[str, list[str]] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    @property
    def event_log_dir(self) -> str:
        return self.path("eventlog")

    def start_session(self):
        """The engine's session factory, sized by the box-fit settings;
        the event log is switched on only for the traced run."""
        from tv_event_streaming_spark.session import get_spark  # noqa: PLC0415

        extra = {}
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        start_ms = 1000.0 * (time.perf_counter() - t)
        self.tracer = Tracer(self.spark.sparkContext, self.trace)
        k, _ = box_fit()
        self.witness = witness(self.spark, k)
        return start_ms

    def overlap_with_session(self, prepare):
        """Run ``prepare`` (input generation; NumPy, Arrow and DuckDB
        release the interpreter lock) while the JVM starts; return its
        result."""
        with ThreadPoolExecutor(1, thread_name_prefix="prepare") as pool:
            inputs = pool.submit(prepare)
            self.session_ms = self.start_session()
            self.phase("session")
            value = inputs.result()
        self.phase("inputs")
        return value

    def phase(self, name: str) -> None:
        self.phases[name] = time.time() - self.t0

    def start_timing(self) -> None:
        """Let the JIT settle, then mark the end of setup."""
        self.phases["jit_settle_s"] = jit_settle(self.spark)
        self.setup_s = time.time() - self.t0


def child_main(args) -> int:
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, args.run_dir, args.t0)
    steal0 = proc_stat()
    try:
        res = importlib.import_module(ctx.workload).run(ctx)
        res["e2e"]["setup_s"] = ctx.setup_s
        layers = res["layers"]
        layers["host.steal_pct"] = steal_pct(steal0, proc_stat())
        sc = ctx.spark.sparkContext
        layers["proc.peak_rss_mb"] = peak_rss_mb([os.getpid(), sc._gateway.proc.pid])
        ctx.spark.stop()
        if ctx.trace:
            # what the tracer's bookkeeping added to the timed operations,
            # against their duration without it
            layers["trace.overhead_pct"] = 100.0 * ctx.tracer.self_s / (res["op_s"] - ctx.tracer.self_s)
            by_group, layers["spark.failed_tasks"] = event_log(ctx.event_log_dir)
            for prefix, groups in ctx.log_groups.items():
                acc = {"run_ms": 0.0, "cpu_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
                for g in groups:
                    for key in acc:
                        acc[key] += by_group.get(g, {}).get(key, 0.0)
                n = res.get("passes", 1)
                for key, v in acc.items():
                    layers[f"{prefix}.{key}"] = v / n
                layers[f"{prefix}.python_gap_ms"] = (acc["run_ms"] - acc["cpu_ms"]) / n
            ctx.tracer.write(ctx.path("spans.jsonl"))
        res["witness"] = ctx.witness
        res["props"]["setup_phases_s"] = ctx.phases
        with open(ctx.path("result.json"), "w") as fh:
            json.dump(res, fh)
        return 0
    except Exception:  # the process boundary: report and fail the run
        traceback.print_exc()
        return 1
