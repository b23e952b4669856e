"""spark-kg benchmark: ``build`` / ``append`` / ``queries`` workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Load model: a closed loop with one client.  One op runs at a time against
Spark ``local[N]`` with N the usable CPU count; the engine runs with its
defaults (no ``SPARK_KG_*`` override).  Every run generates its inputs from
``--seed``, checks every op's output, prints a human-readable report and,
as the last stdout line, the JSON result.  ``--trace 0`` times ops with
tracing off and reports the end-to-end metrics; ``--trace 1`` runs one
traced op plus per-layer replays (perfbench/tracing.py) and reports the
per-layer metrics.  Everything the run writes stays under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.abspath(".perfbench_work")
# Spark's driver memory: a deployment setting, kept small because the
# benchmark shares its machine.
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# The wall time of an op (reported as <kind>_s) follows the hypervisor's
# CPU steal on a shared machine: on a 4-vCPU shared VM, seven appends in
# one Spark session took 9.7-14.8 s as steal varied 0.5-12 CPU-s per op.
# The CPU time the op costs does not include steal, so it is the bounded
# metric; set-up is likewise measured in CPU seconds (its wall time is
# reported as setup_wall_s).
END_TO_END = {"op_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30.0


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned when its parent exits (the launcher's helper shell the JVM
    never reaps, the Python worker daemon) becomes a child of this one, so
    that ``stop_processes`` can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_processes() -> None:
    """Stop the JVM and every other process this run started, and return
    only when each has ended and been reaped.  ``spark.stop()`` leaves the
    JVM running; it exits on EOF on its stdin.  Whatever is still running
    ``STOP_GRACE_S`` later is killed."""
    from measure import children, tree

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
    deadline = time.monotonic() + STOP_GRACE_S
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            killed = True
            for kid in children().get(os.getpid(), []):
                for p in tree(kid):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def isolate_temp_dirs(work: str) -> None:
    """Keep every temporary file of the driver, the JVM and the Python
    workers inside ``work``.  Must run before Spark or tempfile are used."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")


def start_spark(cores: int, extra: dict[str, str] | None = None):
    from kg.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf | (extra or {}))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_loop(wl, seconds: float) -> None:
    """Closed loop: the next op starts when the previous one (and its
    check) is done.  Runs ``wl.min_rounds`` rounds of one op of each kind,
    then stops before another round would end past ``seconds``."""
    t0 = time.perf_counter()
    while True:
        if wl.exhausted:
            print(f"# {wl.name}: inputs exhausted before {seconds}s", file=sys.stderr)
            break
        kind = wl.next_kind()
        try:
            op = getattr(wl, f"op_{kind}")()
        except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
            from workloads import Op

            # its own kind, so that it adds no sample to the timings
            op = Op(f"raised-{kind}", 0.0, False, f"{type(exc).__name__}: {exc}")
            print(f"# {wl.name}: {kind} op raised {op.note}", file=sys.stderr)
        wl.ops.append(op)
        rounds = len(wl.ops) / len(wl.kinds)
        elapsed = time.perf_counter() - t0
        if (rounds == int(rounds) and rounds >= wl.min_rounds
                and elapsed * (rounds + 1) / rounds > seconds):
            break


def setup_workload(wl, session: tuple[float, float]) -> tuple[float, float]:
    """Set-up cost as (CPU seconds, wall seconds): session start + median
    input preparation + warm-up.  The CPU time is ``setup_s``, for the
    reason ``op_cpu_s`` is CPU time (see END_TO_END)."""
    from measure import median, timed_cpu

    prep = [timed_cpu(wl.prepare)[:2] for _ in range(SETUP_REPS)]
    warm = timed_cpu(wl.setup)[:2]
    wl.warm_checks()
    parts = {"session": session, "prepare": (median([p[0] for p in prep]),
                                             median([p[1] for p in prep])), "warmup": warm}
    wl.info["setup_parts_wall_cpu_s"] = parts
    return sum(p[1] for p in parts.values()), sum(p[0] for p in parts.values())


def report(wl, metrics: dict, extra: dict) -> None:
    """Human-readable lines (all before the JSON result line)."""
    print(f"# workload={wl.name} seed={wl.env.seed} cores={wl.env.cores}")
    for name, value in extra.items():
        print(f"# {name} = {value}")
    n = len(wl.walls(wl.primary))
    for name, (value, unit) in metrics.items():
        print(f"# metric {name} = {value:.6g} {unit}" + (f" (n={n})" if name == "op_cpu_s" else ""))
    for o in wl.ops:
        if not o.ok:
            print(f"# FAILED {o.kind}: {o.note}")
    print("# descriptors " + json.dumps(wl.info, default=str))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "append", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kg")):
        print(f"perfbench: no kg package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_temp_dirs(WORK)

    from measure import PeakRss, median, result_line, summary, timed_cpu
    from workloads import WORKLOADS, Env, catalog_bytes, tally

    cores = len(os.sched_getaffinity(0))
    if args.trace:
        import tracing

        return tracing.main(args, cores, WORK, start_spark, setup_workload)

    with PeakRss() as rss:
        *session, spark = timed_cpu(start_spark, cores)
        try:
            env = Env(spark, WORK, args.seed, cores)
            wl = WORKLOADS[args.workload](env)
            setup_s, setup_wall = setup_workload(wl, session)
            run_loop(wl, args.seconds)
            wl.finish()
            mb = catalog_bytes(spark, wl.catalog_dir)[1] / 2**20 if wl.catalog_dir else 0.0
        finally:
            spark.stop()
    attempted, failed = tally(wl.ops)
    wl.info["peak_rss_parts_mb"] = rss.parts
    if not wl.walls(wl.primary):
        print(f"perfbench: every {wl.primary} op raised", file=sys.stderr)
        return 1
    values = {"op_cpu_s": median([o.cpu for o in wl.ops if o.kind == wl.primary]),
              "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
    metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    extra = {"setup_wall_s": setup_wall}
    extra |= {f"{k}_s": summary(wl.walls(k)) for k in wl.kinds}
    extra |= {f"{k}_cpu_s": summary([o.cpu for o in wl.ops if o.kind == k]) for k in wl.kinds}
    extra |= {"catalog_mb": round(mb, 3), "error_rate": failed / attempted,
              "attempted": attempted, "failed": failed}
    report(wl, metrics, extra)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(result_line(failed == 0, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        rc = main()
    finally:
        stop_processes()
    sys.exit(rc)
