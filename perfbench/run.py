#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation, each in a
fresh process (fresh JVM).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of an untraced run; with ``--trace 1``
the per-layer metrics of a traced run, ``trace.overhead_pct`` among them.
The run's full result (witness, input properties, setup phases) goes to
stderr. The exit code is non-zero when an output was wrong or a run
failed.

Everything the runs write stays under ``.perfbench/`` in the checkout.
Each run's directory (tables, checkpoints, event log) is removed
afterwards; a traced run's spans are kept as
``.perfbench/spans-<workload>-s<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("serve", "ingest", "curate")
# one measurement ends within this many seconds (the workload process's
# group is then killed)
DEADLINE_S = 165


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test size)")
    p.add_argument("--selftest", action="store_true", help="tiny run of every workload, traced and not")
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--run-dir", help=argparse.SUPPRESS)
    p.add_argument("--t0", type=float, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of a child's process group (the JVM, Python
    workers) and wait until every member has ended."""
    if not _group_alive(pgid):
        return
    os.killpg(pgid, signal.SIGKILL)
    deadline = time.time() + 10
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: float, trace: int, tiny: bool, deadline: float) -> dict:
    """One workload in a fresh process, stopped at ``deadline`` (epoch
    seconds); returns its result dict."""
    sys.path.insert(0, HERE)
    from harness import box_fit  # noqa: PLC0415 — the parent stays import-light

    k, mem = box_fit()
    run_dir = os.path.join(OUT, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        SPARK_GRAFT_CPUS=str(k),
        SPARK_GRAFT_DRIVER_MEM=mem,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--child",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--run-dir", run_dir, "--t0", repr(time.time()),
    ] + (["--tiny"] if tiny else [])
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid)
        if proc.poll() is None:
            proc.wait()
    try:
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(OUT, f"spans-{workload}-s{seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or result is None:
        raise RuntimeError(f"{workload} run failed (exit code {rc})")
    return result


def measure(workload: str, seed: int, seconds: float, trace: int, tiny: bool = False) -> dict:
    """The final result object for one invocation."""
    from metrics import END_TO_END, layer_units, tagged  # noqa: PLC0415

    out = run_child(workload, seed, seconds, trace, tiny, time.time() + DEADLINE_S)
    print(json.dumps(out), file=sys.stderr)
    return {
        "correct": out["correct"],
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": tagged(out["layers"], layer_units(workload)) if trace else tagged(out["e2e"], END_TO_END),
    }


def selftest() -> int:
    """Tiny run of every workload, untraced and traced: every named
    metric must be present, finite, with its unit; outputs correct."""
    from metrics import END_TO_END, layer_units  # noqa: PLC0415

    bad = []
    for w in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, layer_units(w))):
            res = measure(w, seed=7, seconds=2.0, trace=trace, tiny=True)
            got = res["metrics"]
            for name, unit in units.items():
                m = got.get(name)
                if m is None or m.get("unit") != unit or not isinstance(m.get("value"), float) or m["value"] != m["value"]:
                    bad.append(f"{w} trace={trace}: {name} -> {m}")
            if set(got) != set(units):
                bad.append(f"{w} trace={trace}: unexpected metrics {sorted(set(got) - set(units))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{w} trace={trace}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for line in bad:
        print("SELFTEST FAIL", line, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if bad else "pass", "problems": len(bad)}))
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # a terminated run still stops its workload process (``run_child``'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    if args.child:
        from workload import child_main  # noqa: PLC0415

        return child_main(args)
    if not os.path.isdir(os.path.join(ROOT, "tv_event_streaming_spark")):
        print("perfbench: the engine package tv_event_streaming_spark is not in this checkout", file=sys.stderr)
        return 2
    if args.selftest:
        return selftest()
    if args.workload is None:
        print("perfbench: --workload is required", file=sys.stderr)
        return 2
    try:
        res = measure(args.workload, args.seed, args.seconds, args.trace, args.tiny)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
