"""Shared plumbing: paths, the Spark session, memory and host weather."""

from __future__ import annotations

import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = os.cpu_count() or 4
DRIVER_MEMORY = "4g"


def prepare_env() -> None:
    """Make the package importable by the driver AND by Spark's Python
    workers (which inherit the JVM's environment, not ``sys.path``), and
    keep every temp file inside the checkout."""
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(trace: bool):
    """One session at ``local[nproc]`` with the engine's own conf; only
    paths (and, when tracing, status-store retention) are set here."""
    from datawarehouse_etl_using_hyperjoin_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        extra.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(
        "perfbench", cpus=CPUS, driver_memory=DRIVER_MEMORY, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(values) -> float:
    return float(statistics.median(values))


def _tree_pids() -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                data = f.read()
            ppid = int(data[data.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process and
    its descendants: the Python driver, the JVM and its Python workers.
    Peaks of different processes need not coincide, so this is an upper
    bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Weather:
    """Host-contention evidence around a run, from ``bench.py``'s probes:
    the single-core ``calibrate`` at start and end, the memory-bandwidth
    ``calibrate_mem`` at start, and ``HostCpuMeter``'s external busy
    cores over the run."""

    def __init__(self) -> None:
        import bench

        self._bench = bench
        self.cal_start = bench.calibrate()
        self.calm = bench.calibrate_mem(n_procs=min(4, CPUS), mb_each=64)
        self.meter = bench.HostCpuMeter()

    def read(self) -> dict:
        cal_end = self._bench.calibrate()
        host = self.meter.read() or {}
        ext = host.get("ext_busy_cores")
        contended = bool(
            (ext is not None and ext > 0.5)
            or cal_end > 1.5 * self.cal_start
        )
        return {
            "cal": [self.cal_start, cal_end],
            "calm": self.calm,
            "ext_busy_cores": ext,
            "io_stall_s": host.get("io_stall_sec"),
            "contended": contended,
        }
