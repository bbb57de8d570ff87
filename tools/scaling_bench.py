"""Scaling-efficiency evidence for the north rule: run the IDENTICAL
end-to-end job on the IDENTICAL input at two parallelism levels (local[N] and
local[4N] — the sandbox stand-in for N vs 4N executors) and report throughput
at both plus efficiency = (thr_4N / thr_N) / 4.

Prints one JSON line; set SPARK_GRAFT_WRITE_BENCHMD=1 to also rewrite the
"## Scaling" section of BENCH.md (off by default — that section is curated).

Usage: python tools/scaling_bench.py [sf_dir] [rep] [n_low] [n_high]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from bench import _noop_sink
from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import build_spark

cores = int(sys.argv[1]); sf_dir = sys.argv[2]; rep = int(sys.argv[3])
n_runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
spark = build_spark("scaling", cores=cores, shuffle_partitions=cores * 2,
                    extra_conf={"spark.local.dir": "/dev/shm/spark-tmp"})

def job():
    return _noop_sink(P.routed(spark, sf_dir, rep=rep))

n_rows = P.ingested(spark, sf_dir, rep=rep).count()
job()  # warm-up (JVM JIT, file listing, broadcast)
best = None
for _ in range(n_runs):
    t0 = time.perf_counter(); job(); dt = time.perf_counter() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({"cores": cores, "rows": n_rows, "sec": round(best, 3),
                  "rows_per_sec": round(n_rows / best, 1)}))
spark.stop()
"""


def run_level(cores: int, sf_dir: str, rep: int, n_runs: int = 3) -> dict:
    # Pin the whole process tree to exactly `cores` CPUs: in local[N] the JVM's
    # GC/JIT/shuffle threads are NOT bounded by N, so an unpinned low-N leg
    # borrows idle cores and understates scaling.  taskset makes "N cores"
    # mean N cores — the cluster analogue where an executor's cgroup caps it.
    cmd = [
        sys.executable, "-c", RUNNER % {"repo": REPO},
        str(cores), sf_dir, str(rep), str(n_runs),
    ]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in out.stdout.strip().splitlines()[::-1]:
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"runner failed (cores={cores}):\n{out.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_low = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_high = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    low = run_level(n_low, sf_dir, rep)
    high = run_level(n_high, sf_dir, rep)
    ratio = n_high / n_low
    eff = (high["rows_per_sec"] / low["rows_per_sec"]) / ratio
    result = {
        "sf_dir": sf_dir,
        "rows": low["rows"],
        "low": low,
        "high": high,
        "core_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result))

    section = f"""## Scaling local[{n_low}] vs local[{n_high}]

Identical end-to-end job (parse→enrich→route, full materialization) on
identical input ({low['rows']:,} sequences from {sf_dir}, rep={rep}),
local[{n_low}] vs local[{n_high}] — the sandbox stand-in for N vs {int(ratio)}N executors.
Best of 2 timed runs after warm-up, fresh JVM per level.

| parallelism | wall sec | sequences/sec |
|---|---|---|
| local[{n_low}] | {low['sec']} | {low['rows_per_sec']:,} |
| local[{n_high}] | {high['sec']} | {high['rows_per_sec']:,} |

**Scaling efficiency ({n_low}→{n_high} cores): {eff:.3f}** (target ≥ 0.8).
"""
    # BENCH.md's scaling section is hand-curated history now — rewriting it
    # from here would clobber it, so the write is opt-in.
    if os.environ.get("SPARK_GRAFT_WRITE_BENCHMD", "0") != "1":
        return
    path = os.path.join(REPO, "BENCH.md")
    marker = f"## Scaling local[{n_low}] vs local[{n_high}]"
    existing = open(path).read() if os.path.exists(path) else "# BENCH — measured performance\n\n"
    if marker in existing:
        existing = existing.split(marker)[0]
    with open(path, "w") as f:
        f.write(existing.rstrip() + "\n\n" + section)


if __name__ == "__main__":
    main()
