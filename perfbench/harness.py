"""Shared machinery of the benchmark: host-fit Spark launch and teardown,
timing statistics, process-tree RSS sampling, and the span tracer and
layer ladder of the traced run.

Everything here is benchmark-side: it calls into `mundipy_spark` only
through its public functions and never patches it.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    """Median and quartiles over every sample (no min-of-N, no retries)."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, q2, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q2 = q3 = vals[0]
    return {"n": len(vals), "median": statistics.median(vals), "q1": q1, "q3": q3}


# ---------------------------------------------------------------------------
# host and launch
# ---------------------------------------------------------------------------


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb(ram_mb: int) -> int:
    """A quarter of host RAM, between 1 and 4 GiB: the session default
    (24g) exceeds small hosts, and the inputs here are tens of MB."""
    return max(1024, min(4096, ram_mb // 4))


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat: time a
    virtual machine's CPUs were ready but ran another guest."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def host_record(root: str, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    ram = host_ram_mb()
    return {
        "nproc": host_cpus(),
        "ram_mb": ram,
        "master": f"local[{cpus}]",
        "driver_mem_mb": driver_mem_mb(ram),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "commit": commit,
    }


class SparkRun:
    """One local Spark session whose scratch (warehouse, local dirs,
    JVM and Python temp files) lives under `work`, and whose JVM and
    Python workers are stopped and reaped by `close()`."""

    def __init__(self, root: str, work: str, cpus: int):
        self.root = root
        self.work = work
        self.cpus = cpus
        self.spark = None
        self._cwd = os.getcwd()

    def start(self):
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, env.get("PYTHONPATH")) if p
        )
        env["SPARK_DRIVER_MEM"] = f"{driver_mem_mb(host_ram_mb())}m"
        env["SPARK_LOCAL_DIRS"] = local
        env["TMPDIR"] = tmp
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
                "pyspark-shell",
            ]
        )
        tempfile.tempdir = tmp
        # derby.log / metastore_db, if anything creates them, land here
        os.chdir(self.work)

        from mundipy_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus, shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the JVM exits when its stdin pipe closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
            os.chdir(self._cwd)


def make_work_dir(root: str) -> str:
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="work-", dir=base)


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------------------------
# peak RSS of this process and every descendant (JVM, Python workers)
# ---------------------------------------------------------------------------


def _tree(root_pid: int) -> list[int]:
    """root_pid and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root_pid: int) -> int:
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by this process and its descendants: the JVM and Python workers."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of the process tree every `interval` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[span_id]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span_id
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)


def run_ladder(tracer: Tracer, rungs: list[tuple[str, callable]], reps: int) -> dict:
    """Time a cumulative ladder of prefix pipelines.

    rungs: [(layer, run)] in pipeline order; run() executes the prefix
    that ends with `layer` (consumed by a checksum) and returns a dict
    of row counts. Each rep runs every rung once, in order. A layer's
    marginal is its rung's time minus the previous rung's time in the
    same rep, and likewise for the CPU seconds of the process tree; the
    result holds the median marginals over reps, the median rung time,
    and the counts of the last rep."""
    times: dict[str, list[float]] = {name: [] for name, _ in rungs}
    cpu: dict[str, list[float]] = {name: [] for name, _ in rungs}
    counts: dict[str, dict] = {}
    with tracer.span("ladder", reps=reps):
        for rep in range(reps):
            with tracer.span("ladder.rep", rep=rep):
                for name, run in rungs:
                    with tracer.span(name, rep=rep) as sp:
                        c0, t0 = tree_cpu_s(), time.perf_counter()
                        counts[name] = run()
                        times[name].append(time.perf_counter() - t0)
                        cpu[name].append(tree_cpu_s() - c0)
                        sp["attrs"]["counts"] = counts[name]
    out = {}
    prev = None
    for name, _ in rungs:
        marg = [
            t - (times[prev][i] if prev else 0.0) for i, t in enumerate(times[name])
        ]
        marg_cpu = [c - (cpu[prev][i] if prev else 0.0) for i, c in enumerate(cpu[name])]
        out[name] = {
            "rung_s": statistics.median(times[name]),
            "marginal_s": statistics.median(marg),
            "marginal_cpu_s": statistics.median(marg_cpu),
            "counts": counts[name],
        }
        prev = name
    return out
