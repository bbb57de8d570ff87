"""Per-query isolation timing and plan capture for the 16 bench.py headline
queries.  The queries, their sink actions and the xxhash64-fold sink are
bench.py's own (``BENCH_LEAVES``, ``ACTIONS``), so its plans are bench.py's
and its numbers compare with BENCH_r0x.json.

- optional true noop-sink runs (``--noop``) per guide §1.4;
- optional ``--explain DIR [SUFFIX]``: write each query's
  ``explain("formatted")`` to DIR/<query>_<SUFFIX>.txt (the judge-facing
  plan evidence, plans/r06/);
- ``--queries a,b,c`` to isolate, ``--reps N`` best-of-N (default 3);
- jobs labeled via setJobDescription (guide §1.5).

Usage:
  python tools/bench_extra.py [--queries q1,q2] [--reps N] [--noop]
                              [--explain plans/r06 before] [--no-time]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ACTIONS, BENCH_LEAVES, _noop_sink
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import build_spark


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--noop", action="store_true", help="use format('noop') sink for every query")
    ap.add_argument("--explain", nargs="+", default=None, metavar=("DIR", "SUFFIX"))
    ap.add_argument("--no-time", action="store_true", help="explain only, skip timing")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rep = int(os.environ.get("SPARK_GRAFT_SEQ_REP", "4"))
    extra = {}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark-tmp"
    spark = build_spark("bench_extra", cores=cores, extra_conf=extra)

    registry = {name: (build, action) for name, build, action in BENCH_LEAVES}

    names = [n for n in args.queries.split(",") if n] or list(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if args.explain:
        out_dir = args.explain[0]
        suffix = args.explain[1] if len(args.explain) > 1 else "before"
        os.makedirs(out_dir, exist_ok=True)
        for n in names:
            df = registry[n][0](spark, sf_dir, rep)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{n}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"explain -> {out_dir}/{n}_{suffix}.txt", file=sys.stderr)

    timings: dict[str, float] = {}
    if not args.no_time:
        # warm-up (same as bench.py: pay Arrow spin-up + codegen once)
        _noop_sink(P.enriched(spark, sf_dir, rep=rep))
        for n in names:
            build, action = registry[n]
            spark.sparkContext.setJobDescription(f"bench_extra:{n}")
            best = None
            for _ in range(args.reps):
                t0 = time.perf_counter()
                df = build(spark, sf_dir, rep)
                (_noop_write if args.noop else ACTIONS[action])(df)
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            spark.sparkContext.setJobDescription(None)
            timings[n] = round(best, 3)
            print(f"{n}: {best:.3f}s", file=sys.stderr)

    print(json.dumps({"queries": timings, "sf": sf_dir, "reps": args.reps, "noop": args.noop}))
    spark.stop()


if __name__ == "__main__":
    main()
