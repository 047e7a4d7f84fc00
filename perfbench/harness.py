"""Host fitting, Spark session lifecycle, process-tree sampling and the
statistics the benchmark reports.  Nothing here imports the engine at
module import time: the entry point checks that the package is present
first and fails without a result when it is not."""

from __future__ import annotations

import hashlib
import json
import math
import os
import signal
import statistics
import threading
import time

import pandas as pd

DRIVER_MEM = "1g"
# Spark task slots.  The JVM's JIT and GC threads and the Python workers
# need cores beside the tasks: at local[4] on a shared 4-core host the
# process tree wanted more than the host has, and ran slower than at 2.
CORES = 2
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def fit_environment(root: str, tmp: str) -> dict:
    """Point every scratch location of Spark, the JVM and the Python
    workers under ``tmp`` and size the session to the host.  Must run
    before the JVM starts (the settings are read at launch)."""
    cpus = min(CORES, host_cpus())
    for sub in ("local", "warehouse", "java", "eventlog"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        # Python UDF workers import the package from the checkout
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "TMPDIR": os.path.join(tmp, "java"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    jopts = (f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')} "
             f"-Dderby.system.home={os.path.join(tmp, 'java')}")
    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.driver.extraJavaOptions": jopts,
        "spark.ui.showConsoleProgress": "false",
    }
    return {"cpus": cpus, "conf": conf}


def event_log_conf(tmp: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def start_session(cpus: int, conf: dict):
    from juliadb_jl_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _tree_usage() -> tuple[float, int]:
    """(CPU seconds incl. reaped children, resident bytes) of the tree."""
    cpu, rss = 0.0, 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/statm") as fh:
                rss += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
        cpu += sum(int(x) for x in f[11:15]) / TICK
    return cpu, rss


class TreeMeter:
    """CPU time and peak RSS of this process and everything it started
    (JVM, Python UDF workers).  A background thread samples RSS; CPU is
    read at the window edges."""

    def __init__(self, interval: float = 0.05):
        self._interval = interval
        self._peak = 0
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self._interval):
            rss = _tree_usage()[1]
            with self._lock:
                self._peak = max(self._peak, rss)

    def begin(self):
        cpu, rss = _tree_usage()
        with self._lock:
            self._peak = rss
        self._cpu0 = cpu

    def end(self) -> tuple[float, float]:
        """(cpu_s, peak_rss_mb) since ``begin``."""
        cpu, rss = _tree_usage()
        with self._lock:
            peak = max(self._peak, rss)
        return cpu - self._cpu0, peak / 2 ** 20

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every process this
    benchmark started to end."""
    mine = os.getpid()
    started = [p for p in process_tree(mine) if p != mine]
    if spark is not None:
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be closed
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    # UDF workers are grandchildren: once the JVM exits they are
    # re-parented, so wait on the pids seen before shutdown
    deadline = time.time() + 20
    while True:
        rest = [p for p in set(started + process_tree(mine))
                if p != mine and _alive(p)]
        if not rest:
            return
        for p in rest:
            if time.time() > deadline:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum below 22 samples, where that
    percentile would not lie above the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 22:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def finite(x: float, cap: float = 1e9) -> float:
    """JSON has no infinity: a failed op's latency is reported as 1e9 s."""
    return cap if math.isinf(x) or math.isnan(x) else x


def canon(pdf: pd.DataFrame) -> str:
    """Order-free digest that is equal for the Spark and the DuckDB result
    of one query: columns by name, floats to nine digits, timestamps in
    µs, nested values as JSON text, sorted rows printed as text."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            pdf[c] = s.map(lambda v: v if v is None or isinstance(v, str)
                           else json.dumps(v, default=str))
    pdf = pdf.sort_values(cols, ignore_index=True, na_position="first")
    payload = pdf.to_csv(index=False, float_format="%.9g")
    return hashlib.md5(payload.encode()).hexdigest()


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (marker files excluded)."""
    return sum(os.path.getsize(os.path.join(base, n))
               for base, _, names in os.walk(path)
               for n in names if not n.startswith((".", "_")))
