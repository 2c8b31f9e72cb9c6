"""Scaling-efficiency evidence for the north rule (N → 4N executors).

No real cluster exists in this sandbox, so cluster scaling is evidenced by
running the IDENTICAL extraction job on the SAME materialized corpus at
two parallelism levels — local[8] and local[32] — in separate processes
(fresh JVM each), reporting docs/sec at both and

    efficiency = (throughput_32 / throughput_8) / 4.

Writes/updates the "Measured scaling" section consumed by BENCH.md and
prints one JSON line.

Usage: python tools/scaling_bench.py [n_docs] [--pair N 4N]
(default pair 8 32; --pair 4 16 and --pair 2 8 widen the evidence base
away from the 32-thread shared-JVM ceiling — see BENCH.md)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(cpus: int, n_docs: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_DOCS=str(n_docs),
        SPARK_GRAFT_BENCH_SKIP_QUERIES="1",
    )
    # a fresh process per leg; get_spark uses an explicit cores= exactly,
    # past the 16-core cap that SPARK_GRAFT_CPUS is held to
    out = subprocess.run(
        [sys.executable, "-c", f"import bench; bench.main(cores={cpus})"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    )
    line = out.stdout.strip().splitlines()[-1]
    r = json.loads(line)
    used = r.get("cpus_used", cpus)
    if used != cpus:
        raise RuntimeError(
            f"bench ran at {used} threads, not the requested {cpus}; "
            "efficiency ratio would be meaningless"
        )
    return r


def main() -> None:
    args = [a for a in sys.argv[1:]]
    lo, hi = 8, 32
    if "--pair" in args:
        i = args.index("--pair")
        lo, hi = int(args[i + 1]), int(args[i + 2])
        del args[i : i + 3]
    n_docs = int(args[0]) if args else 12000
    results = {}
    for cpus in (lo, hi):
        r = run_bench(cpus, n_docs)
        results[cpus] = r
        print(
            f"# local[{cpus}]: {r['docs_per_sec']} docs/s, "
            f"{r['mb_per_sec']} MB/s, wall {r['value']}s",
            file=sys.stderr,
        )
    t_lo = results[lo]["docs_per_sec"]
    t_hi = results[hi]["docs_per_sec"]
    eff = (t_hi / t_lo) / (hi / lo)
    summary = {
        "n_docs": n_docs,
        f"local{lo}_docs_per_sec": t_lo,
        f"local{hi}_docs_per_sec": t_hi,
        f"local{lo}_wall_sec": results[lo]["value"],
        f"local{hi}_wall_sec": results[hi]["value"],
        f"local{lo}_mb_per_sec": results[lo]["mb_per_sec"],
        f"local{hi}_mb_per_sec": results[hi]["mb_per_sec"],
        f"scaling_efficiency_{lo}_to_{hi}": round(eff, 3),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
