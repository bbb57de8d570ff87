"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a readable summary, then as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``).  Everything it writes goes under ``.perfbench_work/``
in the current directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: a run still going after this many seconds is aborted (exit 1, no
#: result), so it and every process it started end within 180 s
DEADLINE_S = 155
#: time the aborted run's own shutdown gets before it is cut short too
ABORT_GRACE_S = 8


def _on_term(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_fluentd_spark", "__init__.py")):
        print("go_fluentd_spark/ not found in the current directory: "
              "run from the repository root", file=sys.stderr)
        return 2
    # Spark's Python workers import the program from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    sys.path[:0] = [ROOT, HERE]

    from harness import adopt_orphans, stop_descendants
    from workloads import END_TO_END, EXTRA_WORKLOADS, WORKLOADS, Ctx, per_layer_units

    runs = {**WORKLOADS, **EXTRA_WORKLOADS}
    if args.workload not in runs:
        print(f"unknown workload {args.workload!r}; one of {sorted(runs)}", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _on_term)
    signal.signal(signal.SIGHUP, _on_term)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")

    def clean_up() -> None:
        # every process the run started (JVM, Python worker daemon and
        # workers) has ended before the result is printed
        stop_descendants(grace=3)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    aborted: list[bool] = []

    def on_alarm(signum, frame) -> None:
        if aborted:  # the aborted run's own shutdown hangs: cut it short
            clean_up()
            os._exit(1)
        aborted.append(True)
        signal.alarm(ABORT_GRACE_S)
        raise TimeoutError(f"run exceeded its {DEADLINE_S} s deadline")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    os.makedirs(os.path.join(work, "spark", "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "spark", "tmp")
    # it would override spark.local.dir and put spill files outside ``work``
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # each running task of an Arrow UDF pairs a JVM thread with a Python
    # worker process, so half the CPUs as task slots keeps about one busy
    # process per CPU and leaves the JIT and GC threads room
    cores = max(1, (os.cpu_count() or 2) // 2)
    ctx = Ctx(work, args.seed, args.seconds, cores, bool(args.trace))
    try:
        res = runs[args.workload](ctx)
    except Exception:  # noqa: BLE001 — a failed run prints no result
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        clean_up()

    units = per_layer_units() if args.trace else END_TO_END
    missing = sorted(set(units) - set(res.metrics))
    for e in res.errors:
        print(f"check failed: {e}")
    for name, (v, u) in res.named.items():
        print(f"{args.workload}: {name} = {v:.4f} {u}")
    print(f"{args.workload}: ops_failed = {res.failed} / ops = {res.attempted}")
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
    out = {
        "correct": not res.errors and not missing and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            k: {"value": res.metrics[k], "unit": u} for k, u in units.items() if k in res.metrics
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
