"""Per-pass CPU of a perfbench workload, split by thread class.

    python tools/cpu_split.py --workload alert_night --passes 4 [--seed 1]

Sets the workload up as ``perfbench/run.py`` does (one cold and
``WARM_SETUPS`` warm set-ups in one JVM), then runs K consecutive passes
and prints one JSON line of CPU seconds per pass: the driver JVM's threads
by class (C2 and C1 compiler, executor task, Py4J ``Thread-N``, GC, other),
the Python workers the JVM started, and this Python process. Pass 1 is the
benchmark's untimed pass, pass 2 the one it measures. A sampler thread
reads ``/proc/<jvm>/task/*/stat`` every 0.1 s, so a thread that exits
(HotSpot retires idle compiler threads) keeps its CPU up to its last
sample; ``jvm_unsampled`` is the JVM CPU no sample saw, ``probe`` the
sampler's own. A pass of ``alert_stream`` is one query through its first
steady micro-batch. Reads ``/proc`` only; perfbench is imported as is.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]
import run  # noqa: E402  (perfbench/run.py)
import spans  # noqa: E402
from workloads import WORKLOADS, Steps  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")
CLASSES = [(re.compile(p), c) for p, c in (
    (r"C2 Compiler", "compiler_c2"), (r"C1 Compiler", "compiler_c1"),
    (r"Executor task", "executor_task"), (r"Thread-\d+$", "py4j"), (r"(GC|G1) ", "gc"),
)]


def stat(path: str) -> tuple[str, int, int, str]:
    """comm, own CPU ticks, reaped children's CPU ticks and start time."""
    with open(path) as f:
        s = f.read()
    x = s[s.rindex(")") + 2:].split()  # fields 3.. of proc(5)
    return s[s.index("(") + 1:s.rindex(")")], int(x[11]) + int(x[12]), int(x[13]) + int(x[14]), x[19]


class Sampler(threading.Thread):
    def __init__(self, jvm: int):
        super().__init__(daemon=True)
        self.jvm, self.seen, self.lock = jvm, {}, threading.Lock()
        self.tid = None

    def poll(self) -> None:
        with self.lock:
            for tid in os.listdir(f"/proc/{self.jvm}/task"):
                try:
                    comm, cpu, _, start = stat(f"/proc/{self.jvm}/task/{tid}/stat")
                except (OSError, ValueError, IndexError):
                    continue  # the thread exited while being read
                cls = next((c for p, c in CLASSES if p.match(comm)), "jvm_other")
                self.seen[(tid, start)] = (cls, cpu)

    def run(self) -> None:
        self.tid = threading.get_native_id()
        while True:
            self.poll()
            time.sleep(0.1)

    def snapshot(self) -> dict[str, int]:
        """Cumulative ticks per class."""
        self.poll()
        out: dict[str, int] = {}
        with self.lock:
            for cls, cpu in self.seen.values():
                out[cls] = out.get(cls, 0) + cpu
        out["jvm_unsampled"] = stat(f"/proc/{self.jvm}/stat")[1] - sum(out.values())
        out["python_workers"] = 0
        for p in spans.tree_pids(self.jvm)[1:]:
            try:
                out["python_workers"] += sum(stat(f"/proc/{p}/stat")[1:3])
            except (OSError, ValueError, IndexError):
                pass
        out["probe"] = stat(f"/proc/self/task/{self.tid}/stat")[1]
        out["python_driver"] = stat("/proc/self/stat")[1] - out["probe"]
        return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"cpu_split-{os.getpid()}")
    os.makedirs(work)
    run.environment(work, cores)
    try:
        from pyspark import SparkContext

        from fink_filters_spark.session import get_session
        import fink_filters_spark.filters.ztf  # noqa: F401  (registers topics)

        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        spark = None
        for _ in range(1 + run.WARM_SETUPS):
            if spark is not None:
                spark.stop()
            spark = get_session(f"cpu-split-{args.workload}", cpus=cores)
            spark.sparkContext.setLogLevel("ERROR")
            wl.warm_unit(spark)
        sampler = Sampler(SparkContext._gateway.proc.pid)
        sampler.start()
        while sampler.tid is None:
            time.sleep(0.01)
        before = sampler.snapshot()
        for k in range(1, args.passes + 1):
            t0 = time.perf_counter()
            wl.measure(spark, 0, Steps(spark, spans.Tracer(False)))
            wall = time.perf_counter() - t0
            after = sampler.snapshot()
            cpu = {c: round((after[c] - before.get(c, 0)) / TICK, 2) for c in sorted(after)}
            print(json.dumps({"workload": args.workload, "seed": args.seed, "pass": k,
                              "wall_s": round(wall, 2), "total_s": round(sum(cpu.values()), 2),
                              "cpu_s": cpu}), flush=True)
            before = after
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
