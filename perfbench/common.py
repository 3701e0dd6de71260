"""Shared plumbing for the benchmark: environment pinning, the work
directory, latency statistics, process-tree memory and the result line.

Everything the benchmark writes lands under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: Cores the Spark workloads run on: never more than the machine has.
MAX_CPUS = 4
#: JVM heap for the local-mode driver (which also hosts the executors).
DRIVER_MEM = "1g"


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc`` (10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    boot = time.time() - uptime
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def make_workdir(workload: str, seed: int, trace: bool) -> str:
    path = os.path.join(
        WORK_ROOT, f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_environment(workdir: str) -> dict:
    """Pin the variables the Spark layer reads, before pyspark starts a
    JVM. Every scratch, spill and temp path points into ``workdir``."""
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    warehouse = os.path.join(workdir, "warehouse")
    for d in (local, tmp, warehouse):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Arrow workers import the package themselves.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                f"--driver-java-options -Djava.io.tmpdir={tmp}",
                f"--conf spark.sql.warehouse.dir={warehouse}",
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(env)
    return env


def environment_record(seed: int, pinned: dict) -> dict:
    """What a result was measured on."""
    rec = {
        "nproc": os.cpu_count(),
        "ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20,
        "python": platform.python_version(),
        "seed": seed,
        "env": {k: v for k, v in pinned.items() if k.startswith(("SPARK_", "PYSPARK_SUBMIT"))},
    }
    try:
        import pyspark

        rec["pyspark"] = pyspark.__version__
    except ImportError:
        rec["pyspark"] = None
    return rec


def percentile(values: list[float], q: int) -> float:
    """Linear-interpolated percentile, ``q`` an integer in 1..99."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# The reference work of HostSpeed: a fixed document, dict-, list- and
# str-heavy like the planner, built by the benchmark, never by the program.
_REF_DOC = json.dumps(
    [
        {"id": i, "name": f"f{i}", "type": ("int", "long", "string")[i * 7 % 3], "path": list(range(i % 7))}
        for i in range(400)
    ]
)
#: Loops of the reference work in one sample.
REF_LOOPS = 24
#: Thread CPU seconds one sample takes at the speed normalized times are
#: stated at (a quiet moment of the 4-vCPU host this benchmark was tuned on).
REF_NOMINAL_CPU_S = 0.02


class HostSpeed:
    """The host's speed, from samples of a fixed single-threaded reference
    work taken between a run's calls. A sample is timed in thread CPU time,
    which leaves out steal and waiting for a CPU but not the frequency and
    cache contention the host's other tenants cause. The program's CPU
    times move with that contention, and the samples move with them, so a
    CPU time scaled by :meth:`factor` repeats across runs where the raw one
    does not."""

    def __init__(self) -> None:
        self.cpu: list[float] = []
        #: Wall and CPU seconds all samples took, for timers to leave out.
        self.spent_wall = self.spent_cpu = 0.0

    def sample(self) -> None:
        t0, c0 = time.perf_counter(), time.thread_time()
        for _ in range(REF_LOOPS):
            doc = json.loads(_REF_DOC)
            by_name = {f["name"]: f for f in doc}
            sorted(by_name, key=lambda k: (by_name[k]["type"], -by_name[k]["id"]))
        c = time.thread_time() - c0
        self.cpu.append(c)
        self.spent_cpu += c
        self.spent_wall += time.perf_counter() - t0

    def factor(self) -> float:
        """Nominal over the median sample time: below 1 on a host slower
        than nominal. One factor serves the whole run: a Spark workload
        takes only a few samples in set-up, too few to scale it alone."""
        return REF_NOMINAL_CPU_S / median(self.cpu)


def descendants(root_pid: int | None = None) -> list[int]:
    """Live descendants of ``root_pid`` (default: this process)."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out: list[int] = []
    todo = [root_pid]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (``VmHWM``) of this process and every
    live descendant: the driver's Python, the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and its
    descendants: this process (to the nanosecond), every live descendant
    and the children each has reaped (to the clock tick). Time the host
    steals from the guest, and time spent waiting for a CPU, are not in
    it, so it repeats across runs where wall time does not."""
    ticks = 0
    me = os.getpid()
    for pid in [me, *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime; this process's own utime and stime
        # come from process_time()
        first = 13 if pid == me else 11
        ticks += sum(int(x) for x in fields[first:15])
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str, suffix: str | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; only names ending in ``suffix`` when
    given."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if suffix and not n.endswith(suffix):
                continue
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
