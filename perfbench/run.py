"""Benchmark of the land-registry engine: one command, seeded workloads.

    python3 perfbench/run.py --workload ingest_cdc --seed 1 --seconds 10 --trace 0

One client (this process) drives a local Spark session on
``local[min(nproc, 4)]`` in a closed loop: each op starts after the
previous one finished. A run

1. generates (or reuses from the cache) the seeded inputs and computes
   each op's expected result;
2. sets up: starts a fresh Spark session several times (the first start
   also launches the JVM), then runs one warm-up pass, which checks
   every output against the expected results. ``setup_s`` is the median
   session start plus the warm-up pass;
3. runs timed passes until ``--seconds`` have passed; ``pass_s`` is the
   median pass time. Every timed op's result is checked too.

With ``--trace 1`` the timed passes alternate untraced and traced, and
the run reports the per-layer metrics of ``tracing.py`` instead.

The last stdout line is the result; the line before it holds the
details: input sizes, the warm-up and every timed pass and op time, the
failed share of ops, host telemetry. Everything the run writes stays
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
SETUP_CYCLES = 3


def _env(run_dir: str) -> int:
    """Point every writer at the run directory; return the core count."""
    cpus = min(os.cpu_count() or 1, 4)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers are spawned by the JVM and inherit this environment:
    # they import the package from the checkout whatever their cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # No hsperfdata file under /tmp, whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"  # inputs are small; bound the heap
    return cpus


def _session(cpus: int, run_dir: str):
    from land_registry_data_ingestion_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(max(cpus, 8)),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the scheduler is up
    return spark


def _peak_rss_mb() -> float:
    """Peak RSS of this process and its descendants (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--wrong-expectation", action="store_true",
        help="make the last op's expected result wrong, to show that a "
        "wrong result counts as a failed op",
    )
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import workloads  # imports the package: fails outside a checkout
    from bench import host_probe, host_section

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")

    os.makedirs(os.path.join(WORK_ROOT, "cache"), exist_ok=True)
    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _bench(args, workloads, host_probe, host_section, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _bench(args, workloads, host_probe, host_section, run_dir) -> int:
    cpus = _env(run_dir)
    host0, wall0 = host_probe(), time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](
        args.seed, os.path.join(WORK_ROOT, "cache"), run_dir
    )
    t = time.perf_counter()
    data_dir, cache_hit = wl.prepare()
    gen_s = time.perf_counter() - t
    # Expected results are computed while the first session starts. That
    # cycle, which launches the JVM, is the slowest anyway, so the median
    # session start never includes the overlap.
    oracle_err: list = []

    def oracle():
        try:
            wl.compute_expected()
        except Exception as e:  # re-raised in the main thread below
            oracle_err.append(e)

    oracle_thread = threading.Thread(target=oracle)
    oracle_thread.start()

    attempted = failed = 0
    failures: list[str] = []

    def tally(res):
        nonlocal attempted, failed
        for op in res.ops:
            attempted += 1
            if not op.ok:
                failed += 1
                failures.append(f"{op.name}: {op.detail.strip()[-2000:]}")

    # Set-up: a session start (a fresh SparkContext) several times -- the
    # first also launches the JVM -- then one warm-up pass, which spawns
    # the Python workers and checks every output. A warm-up pass costs as
    # much as a timed pass, so it runs once.
    starts = []
    spark = None
    try:
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _session(cpus, run_dir)
            starts.append(time.perf_counter() - t0)
            oracle_thread.join()  # before the next cycle: it must not overlap
        if oracle_err:
            raise oracle_err[0]
        if args.wrong_expectation:
            _corrupt(wl)
        warmup = wl.run_pass(spark, check=True)
        tally(warmup)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, cpus)
        passes, traced = [], []
        t_timed = time.perf_counter()
        # A traced run alternates untraced and traced passes, starting and
        # ending untraced, so the overhead estimate brackets JIT drift.
        while (
            not passes
            or (tracer is not None and len(passes) < 2)
            or time.perf_counter() - t_timed < args.seconds
        ):
            use = tracer if tracer is not None and len(passes) > len(traced) else None
            if use is not None:
                use.install()
            try:
                res = wl.run_pass(spark, False, use)
            finally:
                if use is not None:
                    use.uninstall()
            (traced if use is not None else passes).append(res)
            tally(res)
        peak_rss_mb = _peak_rss_mb()
    finally:
        if spark is not None:
            _stop(spark)
    host1 = host_probe()

    def op_times(ps):
        return {
            name: [round(o.seconds, 4) for p in ps for o in p.ops if o.name == name]
            for name in wl.ops
        }

    series = op_times(passes)
    inputs = wl.sizes()
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "client": f"1 closed-loop client, local[{cpus}]",
        "inputs": inputs,
        "inputs_cached": cache_hit,
        "input_gen_s": round(gen_s, 3),
        "host_mem_gb": round(mem / 2**30, 1),
        "inputs_fit_in_ram": sum(t["bytes"] for t in inputs.values()) < mem,
        "session_start_s": [round(x, 4) for x in starts],
        "warmup_pass_s": round(warmup.seconds, 4),
        "warmup_op_s": op_times([warmup]),
        "timed_pass_s": [round(p.seconds, 4) for p in passes],
        "timed_op_s": series,
        "op_fail_frac": {"value": failed / attempted, "unit": "ratio"},
        "failures": failures[:10],
        "host": host_section(host0, host1, time.perf_counter() - wall0),
    }
    if wl.name == "ingest_cdc":
        for op, name in (("snapshot", "snapshot_s"), ("merge", "merge_s"), ("verify", "verify_s")):
            details[name] = {"value": _median(series[op]), "unit": "s"}
    if tracer is not None:
        metrics = tracer.metrics(
            wl, workloads.ALL_OPS, traced, passes, starts, warmup.seconds, peak_rss_mb
        )
        details["traced_pass_s"] = [round(p.seconds, 4) for p in traced]
    else:
        metrics = {
            "setup_s": {"value": _median(starts) + warmup.seconds, "unit": "s"},
            "pass_s": {"value": _median([p.seconds for p in passes]), "unit": "s"},
        }
    for f in failures:
        print(f, file=sys.stderr)
    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _corrupt(wl) -> None:
    """Make the expected result of the workload's last op wrong by a row."""
    if wl.name == "ingest_cdc":
        wl.expected["reconcile"]["both"] += 1
        return
    import pandas as pd

    op = wl.ops[-1]
    wl.expected[op] = pd.concat([wl.expected[op], wl.expected[op].iloc[:1]])


if __name__ == "__main__":
    sys.exit(main())
