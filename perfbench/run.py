"""Benchmark entry point: one workload, one seed, one process, one session.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
the per-layer ones (spans are then also written to
``.perfbench/traces/``). Every metric is also printed by name and unit on
standard error. Inputs are generated from ``--seed``; every file the run
writes (inputs, sink tables, Spark scratch, traces) lives under
``.perfbench/`` in the current directory, and the run's own scratch
directory is removed when it ends. Workloads and metrics are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
E2E_UNITS = {"setup_s": "s", "class_a_p50_s": "s", "class_b_p50_s": "s"}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _start_time(pid: int) -> str | None:
    """The kernel's start time of ``pid`` (field 22 of /proc/<pid>/stat),
    or None once it has ended; with the pid it names one process even if
    the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat.rsplit(")", 1)[1].split()
    return None if fields[0] == "Z" else fields[19]


def descendants(pid: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        start = _start_time(p)
        if start is not None:
            out.append((p, start))
        todo.extend(children.get(p, []))
    return out


def end_processes(procs: list[tuple[int, str]]) -> None:
    """Wait for each process to end; kill those still running after ten
    seconds. They need not be children of this process."""
    deadline = time.monotonic() + 10
    for pid, start in procs:
        while _start_time(pid) == start:
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def stop_engine(spark) -> None:
    """Stop the session (if it got as far as one), then the JVM behind it,
    and wait until the JVM and every process it started (Python workers)
    have ended. ``spark.stop()`` alone leaves the JVM running until it sees
    this process exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spawned = descendants(jvm.pid) if jvm is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if jvm is not None:
            spawned += descendants(jvm.pid)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            # the JVM exits when its stdin closes
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            end_processes(spawned)


class Run:
    """State shared by a workload's set-up and timed phases."""

    def __init__(self, args, root: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        # two task slots: the jobs of both workloads run 1-5 tasks each, so
        # more slots do not shorten them, and the free cores keep the JIT,
        # GC and Python driver threads from competing with the tasks
        self.cores = max(1, min(2, len(os.sched_getaffinity(0))))
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}

    def op(self, name: str, body) -> None:
        """Run one operation and count it. ``body`` returns the problems it
        found in its own output; a wrong output or an exception counts as a
        failed operation and is reported on standard error."""
        self.attempted += 1
        try:
            problems = body()
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            for p in problems:
                print(f"MISMATCH in {name}: {p}", file=sys.stderr, flush=True)

    def start_session(self):
        """Start the Spark session the way a user of the package does, with
        its scratch directories inside the run directory."""
        from basic_data_pipeline_spark import session

        self.spark = session.get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

    def jvm_gc_s(self) -> float:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def set_up(self, stage_inputs, warm_up) -> float:
        """Set-up time, what every process pays before its first timed
        operation: the cold session start (JVM launch included), input
        staging and the warm-up that JIT-compiles the engine. Returns
        seconds."""
        from spans import Tracer

        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.layer["session.start_s"] = t1 - t0
        stage_inputs()
        t2 = time.perf_counter()
        self.tracer = Tracer(self.spark, f"{os.getpid()}-{self.seed}", enabled=self.traced)
        warm_up()
        t3 = time.perf_counter()
        print(f"set-up: session start {t1 - t0:.2f} s, staging {t2 - t1:.2f} s, "
              f"warm-up {t3 - t2:.2f} s", file=sys.stderr)
        return t3 - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_ingest", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    run = Run(args, root)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run.work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    try:
        if args.workload == "cdc_ingest":
            import cdc_ingest as workload
        else:
            import analytics_mix as workload
        e2e = workload.run(run)
        if run.traced:
            run.layer["peak_rss_mb"] = run.peak_rss_mb()
            run.layer["trace.overhead_s"] = run.tracer.overhead_s
            run.layer["error_rate"] = run.failed / max(1, run.attempted)
            tdir = os.path.join(root, ".perfbench", "traces")
            os.makedirs(tdir, exist_ok=True)
            run.tracer.dump(os.path.join(
                tdir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        from layers import PER_LAYER

        if run.traced:
            metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
                       for n, u in PER_LAYER.items()}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    finally:
        if run.tracer is not None:
            run.tracer.unwrap()
        if "pyspark" in sys.modules:
            stop_engine(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
