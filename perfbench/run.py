"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload dashboard_search --seed 1 --seconds 22 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate run
that prints the per-layer metrics (see perfbench/README.md). Run it from the
root of a checkout: it imports the package from there, and keeps all of its
files (inputs, indexes, Spark scratch, temp files) under a fresh directory
there that it removes on exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.clock import cpu_ticks  # noqa: E402

TICKS_PROCESS = cpu_ticks()
WORKLOAD_NAMES = ("dashboard_search", "curation_batch")
# Two task slots on a four-core box. Both workloads are driver-bound at their
# sizes, so a third and fourth slot barely shorten them (a warm curation build
# reads 5.0-5.4 s at local[4], 5.4-5.9 s at local[2]); leaving cores free for
# the driver, the JIT and the GC keeps timings from measuring the scheduler of
# a shared host.
MAX_CPUS = 2


def declared_units(trace: int) -> dict[str, str]:
    """Name -> unit of every metric BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def pin_environment(work: str) -> int:
    """Cores, memory and every scratch location, before Spark starts."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # -Xms equal to the heap cap: a heap that does not grow or shrink
        # with the run keeps GC from differing between processes
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g' "
            "pyspark-shell"
        ),
    })
    return cpus


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        with contextlib.suppress(OSError):
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
    return out


def proc_stats(jvm_pid: int) -> dict[str, float]:
    """Peak RSS and CPU seconds of this process plus the JVM and its
    Python workers, read from /proc before they exit."""
    tick = os.sysconf("SC_CLK_TCK")
    rss_kb, cpu = 0, 0.0
    for pid in [os.getpid()] + _proc_tree(jvm_pid):
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/status") as f:
                rss_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
                cpu += (int(fields[11]) + int(fields[12])) / tick
    return {"proc.peak_rss_mb": rss_kb / 1024.0, "proc.cpu_s": cpu}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    spark = None
    try:
        cpus = pin_environment(work)
        # the package, the generator and the oracle helpers all come from
        # the checkout; without them this fails here, before any result
        from perfbench import workloads
        from perfbench.tracer import Tracer
        from projet_data_engineering_spark.session import get_spark

        with contextlib.redirect_stdout(sys.stderr):
            spark = get_spark(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            run = workloads.Run(spark, args.seed, args.seconds, work, T_PROCESS, TICKS_PROCESS)
            if args.trace:
                run.tracer = Tracer(spark)
            workloads.execute(args.workload, run)
            if args.trace:
                metrics = workloads.layer_metrics(run)
                metrics.update(proc_stats(spark.sparkContext._gateway.proc.pid))
            else:
                metrics = workloads.end_to_end(run)
        units = declared_units(args.trace)
        if metrics.keys() != units.keys():
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: missing {sorted(units.keys() - metrics.keys())}, "
                f"undeclared {sorted(metrics.keys() - units.keys())}"
            )
        # the same figures without the steal correction, for reading the
        # machine's share next to the result
        print("uncorrected " + json.dumps(workloads.end_to_end(run, corrected=False)),
              file=sys.stderr)
        failed = [op for op in run.ops if not op.ok]
        by_name: dict[str, list[float]] = {}
        for op in run.ops:
            by_name.setdefault(op.name, []).append(op.seconds)
        for name, secs in by_name.items():
            print(f"  {name:<18} n={len(secs):<3} " + " ".join(f"{x:.3f}" for x in secs[:8]),
                  file=sys.stderr)
        for op in failed[:10]:
            print(f"FAILED {op.kind} {op.name} {op.param!r:.80}: {op.error or 'wrong output'}",
                  file=sys.stderr)
        print(
            f"{args.workload} seed={args.seed} cpus={cpus} ops={len(run.ops)} "
            f"queries={sum(op.kind == 'query' for op in run.ops)} "
            f"builds={sum(op.kind == 'build' for op in run.ops)} "
            f"setup={run.t_first - T_PROCESS:.1f}s timed={run.t_end - run.t_first:.1f}s "
            f"timed_steal_share={run.timed_steal_share:.3f}",
            file=sys.stderr,
        )
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            spans = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
            with open(spans, "w") as f:
                json.dump(run.tracer.dump(), f)
        stop_spark(spark)
        spark = None
        result = {
            "correct": not failed,
            "attempted": len(run.ops),
            "failed": len(failed),
            "metrics": {
                name: {"value": value, "unit": units[name]}
                for name, value in metrics.items()
            },
        }
    finally:
        if spark is not None:
            with contextlib.suppress(Exception):
                stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
