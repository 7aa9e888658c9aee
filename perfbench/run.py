#!/usr/bin/env python3
"""Closed-loop CDC benchmark for patuha_etl_dlt_spark.

Run from the repository root:

    python3 perfbench/run.py --workload apply_pages --seed 1 --seconds 16 --trace 0

Workloads: apply_pages, pull_sync (see BENCHMARK.json and
perfbench/README.md). Progress goes to stderr. The last line of stdout is one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans to
``.perfbench/spans-<workload>-<seed>.jsonl``.

All scratch data lives under ``.perfbench/`` in the repository and is removed
on exit; every process the run starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("apply_pages", "pull_sync")


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _exists(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def _exists(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv: list[str] | None = None) -> int:
    t_process = perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import guard

    bad = guard.static_violations()
    if bad:
        print("knob guard:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{os.getpid()}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # Python workers import the package from the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import patuha_etl_dlt_spark  # noqa: F401  -- fail fast without the package

    from perfbench import procmon, workloads
    from perfbench.harness import Run, log

    os.makedirs(os.environ["TMPDIR"])
    run = Run(args.seed, args.seconds, bool(args.trace), work, t_process)
    if run.traced:
        run.sampler.start()
        run.tracer.install()
    try:
        if args.workload == "pull_sync":
            e2e = workloads.run_pull(run)
        else:
            e2e = workloads.run_apply(run)
        violations = guard.runtime_violations(run.spark, run.width)
        per_layer = run.per_layer() if run.traced else None
    finally:
        if run.traced:
            run.tracer.uninstall()
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            run.sampler.stop()
        children = procmon.descendants(os.getpid())
        run.close()
        _wait_gone(children)
        shutil.rmtree(work, ignore_errors=True)
    if violations:
        print("knob guard:\n  " + "\n  ".join(violations), file=sys.stderr)
        return 2

    for p in run.problems:
        log(f"oracle: {p}")
    correct = not run.problems
    metrics = per_layer if run.traced else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        # a failed oracle check fails every op of the run
        "failed": run.failed if correct else run.attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
