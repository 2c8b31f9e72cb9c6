"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_small --seed 1 --seconds 20 --trace 0

Run from the repository root. One process drives a Spark ``local[nproc]``
session built by ``plans.session.get_spark`` with ``cores`` set to the
number of CPUs this process may run on. Phases:

1. input: the workload's corpus for ``--seed`` is written as parquet
   under ``perfbench/work`` (skipped when that seed's parquet is already
   there), before Spark starts;
2. set-up, repeated SETUPS times: start a session and run the workload's
   full-shape action once, which pays Python worker spawn and imports;
   ``setup_s`` is the median;
3. measurement: repeat the action for ``--seconds``; iterations in the
   first WARM_FRACTION of the window are not reported, and every timing
   metric is a median over the reported ones (at least MIN_ITERATIONS);
4. checks: see workloads.py; failures feed ``attempted`` / ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the separate
traced run: it sets up once, records each measured action as a span, then
runs one traced checkpoint pass, the ladder rungs, one per-document output
pass and the single-process layer pass, writes the spans to
``perfbench/work/traces/<workload>-seed<seed>.json`` and prints a self-time
table and the per-layer metrics. The last line of stdout is always the
JSON result, also when an action throws (then every document attempted
counts as failed). The layer-to-metric map is in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import signal
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "work")
# The first set-up also launches the JVM; later ones reuse it. With four,
# the median is the mean of two JVM-warm set-ups and the launch never
# sets it.
SETUPS = 4
MIN_ITERATIONS = 3
# The JVM keeps compiling hot code for tens of seconds after set-up, so
# iteration walls step down partway through a run; iterations started in
# this first share of the window are run and checked but not reported.
WARM_FRACTION = 0.5
# An iteration during which the hypervisor took more than this share of
# the session's CPU time is left out of the medians when at least
# MIN_ITERATIONS others remain: on a shared 4-vCPU VM, steal episodes
# slowed whole sets of runs by up to 50%.
STEAL_MAX = 0.02
# The JVM heap is fixed and touched up front (-Xms = -Xmx, AlwaysPreTouch),
# so its resident size does not follow G1's adaptive sizing (which spread
# peak RSS 13-27% between identical runs on a 4-vCPU VM); the heap's share
# of peak_rss_mb is the heap's own peak use in one action instead
# (_heap_peak_mb), the median over the reported actions: in about one run
# in five, one action filled the old generation and the whole-run peak
# jumped from about 700 MB to 1040 MB on extract_skewed. The young
# generation is fixed too (YOUNG_MEM): G1 resized eden between runs, and
# eden's peak, which is its size, moved the heap peak by up to 40%; the
# old generation, where the giants' large arrays go, then sets the
# change. 1 GB holds every workload (old-generation peak about 480 MB with
# the 8 MiB giants), and a 3 GB heap left extract_skewed's walls unchanged.
# The library's 8 GB default is for far larger inputs; pre-touched, it
# would hold 8 GB of memory for every run.
DRIVER_MEM = "1g"
YOUNG_MEM = "256m"


def _parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _spark_env() -> None:
    """Keep every file Spark and its workers write inside perfbench/work,
    and let the workers import the package from this checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory,
    # for the launcher JVM spark-submit starts first and for the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} -XX:+AlwaysPreTouch")
    # pyspark splits this with shlex when it launches the JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ])


def _start(cores: int):
    from go_readability_spark.plans.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the session and the JVM, then wait for every child to end."""
    from pyspark import SparkContext

    from perfbench import procstat

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                pass
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while procstat.descendants():
        for pid in procstat.descendants():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.2)
        if time.time() > deadline:
            sig = signal.SIGKILL


def _scope(wl, spark):
    from go_readability_spark.plans.session import giant_doc_scan

    # the columnar read batch is read when an action is planned: every
    # action over a giant-document table must run inside this scope
    return giant_doc_scan(spark) if wl.giant_docs else contextlib.nullcontext()


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf, [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def _reset_heap_peaks(spark) -> None:
    for pool in _heap_pools(spark)[1]:
        pool.resetPeakUsage()


def _heap_peak_mb(spark) -> float:
    """Driver-JVM heap in use at its peak since _reset_heap_peaks, in MB:
    the sum of each heap pool's peak."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)[1]) / 1e6


def _heap_committed_mb(spark) -> float:
    mf = _heap_pools(spark)[0]
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 1e6


def _iterate(wl, ctx, seconds: float, tracer=None):
    """Run the action repeatedly for ``seconds``, and until MIN_ITERATIONS
    are reported; yield (outcome, wall_s, cpu_s, steal_s, reported). With
    a tracer, each action is recorded as one span around the untraced
    call."""
    from perfbench.procstat import host_steal_s, tree_cpu_s

    start, i, reported = time.perf_counter(), 0, 0
    while time.perf_counter() - start < seconds or reported < MIN_ITERATIONS:
        report = time.perf_counter() - start >= WARM_FRACTION * seconds
        cpu0, steal0 = tree_cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        with tracer.span("action", i) if tracer else contextlib.nullcontext():
            out = wl.action(ctx, i)
        wall = time.perf_counter() - t0
        yield out, wall, tree_cpu_s() - cpu0, host_steal_s() - steal0, report
        reported += report
        i += 1


def main() -> int:
    args = _parse_args()
    sys.path.insert(0, ROOT)
    try:
        import go_readability_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _spark_env()
    try:
        return _run(args, WORKLOADS[args.workload])
    finally:
        _shutdown()


def _run(args, wl) -> int:
    from perfbench import inputs
    from perfbench.tracing import Tracer
    from perfbench.workloads import Ctx

    cores = len(os.sched_getaffinity(0))
    phases = {"start": time.perf_counter()}
    path = inputs.materialize(WORK, wl.kind, args.seed)
    phases["input"] = time.perf_counter()
    ctx = Ctx(spark=None, cores=cores, seed=args.seed, work=WORK, kind=wl.kind,
              input=path, ids=inputs.doc_ids(wl.kind, args.seed),
              sample=inputs.sample_ids(wl.kind, args.seed), partitions=2 * cores)
    tracer = Tracer() if args.trace else None
    # documents of every finished action, and how many of them failed
    tally = {"attempted": 0, "failed": 0}
    try:
        r = _measure(wl, ctx, tracer, args.seconds, phases, tally)
    except Exception:  # noqa: BLE001 — a job that throws fails every document
        traceback.print_exc()
        attempted = tally["attempted"] + len(ctx.ids)
        print(f"# {wl.name} seed={args.seed}: an action threw")
        print(f"#   {'failed_frac':16s} {1.0:14.4f} ratio")
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": attempted, "metrics": {}}))
        return 0

    attempted = tally["attempted"]
    failed = min(tally["failed"], attempted)
    declared = _declared()
    print(f"# {wl.name} seed={args.seed} cores={cores} docs={len(ctx.ids)} "
          f"iterations={r['iterations']} digest={r['seen']['digest']} "
          f"pin_ok={r['seen']['pin_ok']}")
    marks = list(phases.items())
    print("# phases_s " + " ".join(
        f"{b[0]}={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:]))
        + " setups=" + ",".join(f"{x:.2f}" for x in r["setups"])
        + " walls=" + ",".join(f"{x:.3f}" for x in r["walls"])
        + f" steal_left_out={r['steal_left_out']} " + r["rss"])
    for name, unit in declared["end_to_end"].items():
        print(f"#   {name:16s} {r['end_to_end'][name]:14.4f} {unit}")
    print(f"#   {'failed_frac':16s} {failed / attempted:14.4f} ratio")
    values, units = (r["per_layer"], declared["per_layer"]) if tracer else (
        r["end_to_end"], declared["end_to_end"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _measure(wl, ctx, tracer, seconds: float, phases: dict, tally: dict) -> dict:
    """Set up, measure, check and (with a tracer) take the per-layer
    metrics; count documents in ``tally`` as actions finish."""
    from perfbench import procstat

    def count(out, check=0):
        tally["attempted"] += len(ctx.ids)
        tally["failed"] += out.failed + check

    setups = []
    for j in range(1 if tracer else SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = _start(ctx.cores)
        with _scope(wl, ctx.spark):
            warm = wl.action(ctx, f"setup{j}")
        setups.append(time.perf_counter() - t0)
        count(warm)
        wl.cleanup([warm])
    phases["setup"] = time.perf_counter()

    _reset_heap_peaks(ctx.spark)
    outcomes, measured = [], []
    with _scope(wl, ctx.spark):
        for out, wall, cpu, steal, report in _iterate(wl, ctx, seconds, tracer):
            heap = _heap_peak_mb(ctx.spark)
            outcomes.append(out)
            count(out, wl.check_iteration(ctx, out, outcomes[0]))
            if report:
                measured.append((wall, cpu, steal / (wall * ctx.cores), heap))
            if len(outcomes) > 1:
                wl.cleanup(outcomes[-2:-1])
            _reset_heap_peaks(ctx.spark)
        heap_committed = _heap_committed_mb(ctx.spark)
        jvm_mb, worker_mb = procstat.peak_rss_mb()
        clean = [m for m in measured if m[2] <= STEAL_MAX]
        kept = clean if len(clean) >= MIN_ITERATIONS else measured
        walls, cpus = [m[0] for m in kept], [m[1] for m in kept]
        heap_peak = median(m[3] for m in kept)
        phases["measure"] = time.perf_counter()

        verify_failed, seen = wl.verify(ctx, outcomes)
        tally["failed"] += verify_failed
        phases["checks"] = time.perf_counter()
        per_layer = {}
        if tracer:
            per_layer, trace_failed = _traced_layers(wl, ctx, tracer, outcomes, walls)
            tally["attempted"] += len(ctx.ids)
            tally["failed"] += trace_failed
            phases["layers"] = time.perf_counter()
        wl.cleanup(outcomes)

    docs, wall = len(ctx.ids), median(walls)
    # the heap is pre-touched, so VmHWM holds all of it: count the heap's
    # peak use in one action in its place
    off_heap = jvm_mb - heap_committed
    return {
        "end_to_end": {
            "docs_per_s": docs / wall,
            "wall_s": wall,
            "cpu_ms_per_doc": median(c * 1e3 / docs for c in cpus),
            "setup_s": median(setups),
            "peak_rss_mb": off_heap + heap_peak + worker_mb,
        },
        "per_layer": per_layer,
        "seen": seen,
        "iterations": len(outcomes),
        "setups": setups,
        "walls": walls,
        "steal_left_out": f"{len(measured) - len(kept)}/{len(measured)}",
        "rss": (f"jvm_off_heap={off_heap:.0f} jvm_heap_peak={heap_peak:.0f} "
                f"worker={worker_mb:.0f}"),
    }


def _declared() -> dict:
    """Metric name -> unit for BENCHMARK.json's end_to_end and per_layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def _traced_layers(wl, ctx, tracer, outcomes, walls):
    """Per-layer metrics of the traced run, and the documents its
    checkpoint pass failed."""
    from pyspark.sql import functions as F

    from perfbench import inputs, layers
    from perfbench.tracing import span_cost_s
    from perfbench.workloads import WORKLOADS

    m: dict = {}
    m.update(layers.udf_metrics(outcomes[-1].plan_df))
    # the checkpoint layers on this workload's corpus: one traced
    # run_checkpointed and its rerun, checked like checkpoint_resume
    ck = WORKLOADS["checkpoint_resume"]
    with tracer.span("checkpoint_pass"):
        out = ck.action(ctx, "trace", tracer)
    ckpt_failed = ck.check_iteration(ctx, out, out)
    out_bytes, out_files = inputs.dir_stats(out.info["base"])
    staged_bytes, staged_files = out.info["staged"]
    m.update(layers.checkpoint_metrics(
        tracer, (out_bytes + staged_bytes, out_files + staged_files),
        inputs.dir_stats(ctx.input)[0]))
    ck.cleanup([out])
    with tracer.span("ladder"):
        m.update(layers.ladder(tracer, ctx.read(), ctx.partitions))
    with tracer.span("doc_rows"):
        rows = wl.doc_rows(ctx, outcomes)
    m.update(layers.doc_metrics(rows, median(walls), ctx.cores))
    sample = set(ctx.sample)
    m["scoring.candidates"] = sum(r["candidates"] or 0 for r in rows if r["doc_id"] in sample)
    docs = ctx.read().filter(F.col("doc_id").isin(ctx.sample)).collect()
    docs.sort(key=lambda r: r["doc_id"])
    docs = [(r["doc_id"], [s.asDict() for s in r["spans"]]) for r in docs]
    with tracer.span("layers"):
        m.update(layers.layer_pass(tracer, docs + inputs.long_articles(ctx.kind, ctx.seed)))

    cost = span_cost_s()
    m["trace.overhead_ms"] = len(tracer.spans) * cost * 1e3

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{wl.name}-seed{ctx.seed}.json")
    tracer.write(path, {"workload": wl.name, "seed": ctx.seed, "wall_s": walls})
    print(f"# spans: {os.path.relpath(path, ROOT)} ({len(tracer.spans)} spans)")
    print(f"# tracing overhead: {m['trace.overhead_ms']:.2f} ms "
          f"({len(tracer.spans)} spans x {cost * 1e6:.2f} us per span)")
    print("# self time by span")
    for line in tracer.format_table().splitlines():
        print(f"#   {line}")
    return m, ckpt_failed


if __name__ == "__main__":
    sys.exit(main())
