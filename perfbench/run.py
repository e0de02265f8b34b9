#!/usr/bin/env python3
"""Benchmark of the forget-table engine: one workload per invocation.

    python3 perfbench/run.py --workload {serve_mixed,stream}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed afterwards. ``--trace 0`` measures and prints
the end-to-end metrics; ``--trace 1`` runs the same workload with spans
around the engine's public calls, prints a layer table per workload,
reports the per-layer metrics and keeps the spans in
``.perfbench/spans-<workload>.jsonl``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the workload's named metrics, input sizes and host-noise record.
``--seconds`` is accepted for the runner's interface: each workload runs a
fixed operation list sized in ``config.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_mixed", "stream")

END_TO_END = {"setup_s": "s", "work_s": "s"}

_STREAM_LAYER = {"trigger_ms": "ms", "add_batch_ms": "ms", "plan_ms": "ms", "commit_ms": "ms", "jobs_per_batch": "count", "cpu_s": "s"}
PER_LAYER = {
    "server.self_ms": "ms", "server.apply_incr_ms": "ms", "api.read_build_ms": "ms",
    "exec.read_collect_ms": "ms", "exec.jobs_per_read": "count", "exec.tasks_per_read": "count",
    "exec.cpu_ms_per_read": "ms", "exec.run_ms_per_read": "ms", "exec.tasks_per_read_growth": "ratio",
    **{f"stream.{loop}.{k}": u for loop in ("publish", "admit", "semantic") for k, u in _STREAM_LAYER.items()},
    "txn.versions": "count", "txn.segments": "count", "txn.bytes_per_input_byte": "ratio",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warm_s": "s",
    "host.steal_ticks": "count", "host.load1": "load",
    "trace.unattributed_pct": "%", "trace.overhead_pct": "%",
}


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "forgettable_spark")):
        print("perfbench: the engine package forgettable_spark/ is not beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine too (pandas UDFs, RDD rows)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    with open(os.path.join(ROOT, "perfbench", "config.json")) as fh:
        cfg = json.load(fh)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the engine stages spine files under tempfile.mkdtemp(); keep them in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.chdir(work)  # Spark's derby/warehouse leftovers land in the work dir
    from perfbench.common import result_line, stop_processes

    try:
        res = _dispatch(args, cfg[args.workload], work)
    finally:
        # the session, its JVM and every other process this run started end here
        stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    layers = dict(res.get("trace", {}))
    layers.update(
        {
            "setup.session_s": res["session_s"],
            "setup.inputs_s": res["inputs_s"],
            "setup.warm_s": res.get("warm_s", 0.0),
            "host.steal_ticks": res["host"]["steal_ticks"],
            "host.load1": res["host"]["load1"],
        }
    )
    attempted, failed = res["attempted"], res["failed"]
    # work_s is printed in both modes: traced minus untraced is the tracing overhead
    named = dict(res["named"], work_s=res["work_s"], error_rate=failed / attempted)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "named": named, "samples": res["samples"], "sizes": res["sizes"], "host": res["host"]}
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (res[k], u) for k, u in END_TO_END.items()}
    print(result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


def _dispatch(args, cfg: dict, work: str) -> dict:
    if args.workload == "serve_mixed":
        from perfbench import w_serve

        return w_serve.run(args, cfg, work)
    from perfbench import w_stream

    return w_stream.run(args, cfg, work)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
