#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_write --seed 1 --seconds 10 --trace 0

One run: build (or reuse) the seeded inputs, start Spark in local mode
with at most 4 task slots, run one cold pass (its end closes
``setup_s``), then a fixed number of timed passes. Every pass's output
is checked. With ``--trace 0`` the last line holds the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run (see
layertrace.py). Everything the run writes stays under
``.perfbench_cache`` and ``.perfbench_work`` at the root of the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()  # the wall set-up (a diagnostic) counts from here, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import cpu  # noqa: E402

# a warm pass's wall seconds on a quiet host: a run times
# round(--seconds / NOMINAL_PASS_S) passes, at least one, so every run of
# a workload times the same passes whatever the host's speed
NOMINAL_PASS_S = {"crawl_write": 12.0, "corpus_build": 7.0}
MAX_CORES = 4


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_spark(work: str, event_dir: str | None):
    """The engine's own session factory, with every scratch path inside
    ``work`` and at most MAX_CORES task slots."""
    from eugl_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                # Spark 4.1 writes zstd by default, which Python cannot read here
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the PySpark
    daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="eugl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import eugl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        _log(f"perfbench: cannot import the engine ({e}); run from the root of a checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process, the JVM and the Python workers
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # both JVMs (spark-submit's launcher and the Spark driver): no hsperfdata
    # files in the system /tmp, temp files and Derby inside ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        f" -Dderby.system.home={os.path.join(work, 'derby')}"
    )
    # orphans (the PySpark daemon once the JVM is gone, spark-submit's
    # launcher shell) are re-parented here, so every process the run
    # started has ended and been waited for before it exits
    cpu.become_subreaper()
    try:
        result = measure(args, work)
    finally:
        left = cpu.reap_descendants()
        if left:
            _log(f"perfbench: stopped processes that outlived the run: {left}")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args: argparse.Namespace, work: str) -> dict:
    import inputs
    from workloads import WORKLOADS

    t, c = time.perf_counter(), cpu.tree_cpu_s()
    data = inputs.ensure(args.workload, args.seed)
    gen_s, gen_cpu = time.perf_counter() - t, cpu.tree_cpu_s() - c
    steal0 = cpu.host_cpu_ticks()

    tracer = None
    if args.trace:
        import layertrace

        tracer = layertrace.Tracer(os.path.join(work, "eventlog"))
    t = time.perf_counter()
    spark = start_spark(work, tracer.event_dir if tracer else None)
    session_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, data, os.path.join(work, "out"))
        if tracer:
            tracer.attach(spark, wl, session_s)

        def one_pass(i: int, timed: bool) -> tuple[float, float, float]:
            """(wall s, tree CPU s, host steal share) of pass ``i``."""
            if tracer:
                tracer.begin_pass(i, timed)
            c0, s0, w0 = cpu.tree_cpu_s(), cpu.host_cpu_ticks(), time.perf_counter()
            wl.run_pass(i)
            wall = time.perf_counter() - w0
            c1, s1 = cpu.tree_cpu_s(), cpu.host_cpu_ticks()
            if tracer:
                tracer.end_pass(i, wall)
            steal = cpu.steal_share(s0, s1)
            kind = "timed" if timed else "cold"
            _log(f"pass {i} ({kind}): wall {wall:.2f}s cpu {c1 - c0:.2f}s steal {steal:.1%}")
            return wall, c1 - c0, steal

        one_pass(0, timed=False)
        # set-up is the tree's CPU from process start to the end of the
        # cold pass, input generation excluded. It is CPU, not wall time,
        # because wall time here moves with the host's load by more than
        # any allowed bound (README "Stability"). The guest charges stolen
        # time to whichever task was running (README "CPU and steal"), so
        # every time below has its steal share removed.
        setup_wall = time.time() - T_START - gen_s
        setup_s = (cpu.tree_cpu_s() - gen_cpu) * (1.0 - cpu.steal_share(steal0, cpu.host_cpu_ticks()))
        wl.check_pass(0)
        wl.cleanup(0)
        failed_cold = wl.failed
        walls, cpus, steals, out_bytes = [], [], [], []
        n_timed = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        for i in range(1, n_timed + 1):
            wall, used, steal = one_pass(i, timed=True)
            walls.append(wall * (1.0 - steal))
            cpus.append(used * (1.0 - steal))
            steals.append(steal)
            out_bytes.append(wl.check_pass(i))
            wl.cleanup(i)
        failed = wl.failed - failed_cold
    finally:
        stop_spark(spark)
    # the accounting behind cpu_ms_per_doc, checked on every run
    try:
        cpu.self_test()
    except RuntimeError as e:
        wl.problems.append(str(e))

    for p in sorted(set(wl.problems)):
        _log(f"CHECK FAILED: {p}")
    docs = wl.n_docs
    print(f"# steal share per timed pass: {' '.join(f'{s:.1%}' for s in steals)}")
    # wall-clock figures are diagnostics, not gated metrics: between two
    # sets of runs they move with the host's load by more than any
    # allowed bound (README "Stability")
    print(
        f"# {args.workload} seed {args.seed}: {docs} docs, {n_timed} timed passes, "
        f"{docs / statistics.median(walls):.1f} docs/s, set-up wall {setup_wall:.1f}s, "
        f"inputs {gen_s:.1f}s, session {session_s:.1f}s"
    )
    cpu_ms_per_doc = statistics.median(cpus) * 1000.0 / docs
    if tracer:
        metrics = tracer.metrics(cpu_ms_per_doc)
        share = metrics["trace.attributed_share"]["value"]
        print(f"# trace: {share:.1%} of task time attributed to a named layer")
        if share < layertrace.MIN_ATTRIBUTED:
            _log(f"TRACE: only {share:.1%} of task time is attributed, below {layertrace.MIN_ATTRIBUTED:.0%}")
    else:
        metrics = {
            "cpu_ms_per_doc": {"value": cpu_ms_per_doc, "unit": "ms"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "out_bytes_per_doc": {"value": statistics.median(out_bytes) / docs, "unit": "B"},
        }
    return {
        "correct": not wl.problems,
        "attempted": n_timed * wl.ops_per_pass(),
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
