"""Run plumbing shared by the workloads: the isolated run directory,
statistics, process-tree memory and validity stamps."""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = len(os.sched_getaffinity(0))  # what `nproc` prints


class RunDir:
    """A fresh per-run scratch tree inside the checkout (``.perfbench_run/``,
    git-ignored): the NATS broker log, Spark's local and checkpoint dirs,
    temp files and generated parquet all live here, and all of it is
    removed when the run ends. The environment is set before the Spark
    JVM starts, so every process the run spawns inherits it: Spark runs
    on local[nproc] with a 2 GB driver heap unless SPARK_GRAFT_DRIVER_MEM
    says otherwise."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench_run")
        self.path = os.path.join(base, f"{os.getpid()}-{time.time_ns()}")
        self.broker = os.path.join(self.path, "broker")
        self.checkpoints = os.path.join(self.path, "checkpoints")
        self.data = os.path.join(self.path, "data")
        self.tmp = os.path.join(self.path, "tmp")
        for d in (self.broker, self.checkpoints, self.data, self.tmp):
            os.makedirs(d)
        os.environ["SPARK_NATS_BROKER_DIR"] = self.broker
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        os.environ["TMPDIR"] = self.tmp
        os.environ["TZ"] = "UTC"  # collect() renders timestamps in local time
        time.tzset()
        # no hsperfdata file: HotSpot writes it under /tmp whatever tmpdir says
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
        import tempfile

        tempfile.tempdir = self.tmp
        os.chdir(self.path)  # spark-warehouse / derby land here, not in the tree

    def remove(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


# -- statistics ---------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank-interpolated percentile (numpy's default 'linear')."""
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), q))


def metric(value: float, unit: str, samples: int, **extra) -> dict:
    out = {"value": float(value), "unit": unit, "samples": int(samples)}
    out.update(extra)
    return out


def scan_metrics(df) -> dict[str, int]:
    """SQL metrics of the NATS scan node in the executed plan."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):  # an AQE stage wraps its plan
            stack.append(node.plan())
        elif name.startswith("BatchScan"):
            m = node.metrics()
            return {k: m.apply(k).value() for k in ("numOutputRows", "pythonDataReceived")}
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return {"numOutputRows": 0, "pythonDataReceived": 0}


def rows_read_per_row_returned(full_scan_df, limited_df, returned: int) -> float:
    """Useful-work ratio of a LIMIT query: the rows its NATS scan shipped
    from the Python reader (bytes received, converted to rows with a full
    scan of the same table) per row returned."""
    full, limited = scan_metrics(full_scan_df), scan_metrics(limited_df)
    per_row = full["pythonDataReceived"] / max(1, full["numOutputRows"])
    return limited["pythonDataReceived"] / max(1e-9, per_row) / returned


# -- process-tree memory ------------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers share
    most of theirs with their daemon) are split among their sharers, so
    the tree's sum counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_kb(root_pid: int) -> int:
    return sum(_pss_kb(pid) for pid in _tree_pids(root_pid))


class PeakRss:
    """Samples the resident memory (PSS) of this process and all its
    descendants (Spark driver JVM, Python workers, the JetStream server)
    every second; keeps the peak."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        self.samples += 1

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# -- validity stamps ----------------------------------------------------------


def stamp() -> dict:
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(),
        "cpu_ticks": {"steal": ticks[7], "total": sum(ticks)},
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    stamps: the host contention every timing in the run was exposed to."""
    a, b = start["cpu_ticks"], end["cpu_ticks"]
    return (b["steal"] - a["steal"]) / max(1, b["total"] - a["total"])


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def finite(x: float) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)
