"""Traced run: spans around every call into the engine's modules, a
py4j round-trip counter, Catalyst phase times from the QueryExecutions
that actually ran, and per-stage task metrics from Spark's event log.

Spans are recorded by wrappers the benchmark installs on the public
functions and methods of each layer module; nothing inside the engine
changes.  Spans stay in memory and are reduced to per-layer numbers
after the session stops and its event log is complete.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import statistics
import sys
import threading
import time
from bisect import bisect_right

PKG = "juliadb_jl_spark"
# module → layer; first matching prefix wins, unlisted modules are not traced
LAYERS = [
    (f"{PKG}.streaming", None),
    (f"{PKG}.session", "session"),
    (f"{PKG}.sources", "sources"),
    (f"{PKG}.plans", "plans"),
    (f"{PKG}.api", "plans"),
    (f"{PKG}.operators", "operators"),
    (f"{PKG}.functions.scratch", "scratch"),
    (f"{PKG}.functions", "functions"),
    (f"{PKG}.ml", "functions"),
]
SOURCE_WRITES = ("save", "save_bucketed", "save_sorted", "save_jsonl",
                 "save_jdbc", "compact_table")
PYTHON_NODE = ("Python", "Pandas", "Arrow")
UDF_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "compute_ms",
    "data sent to Python workers": "to_python",
    "data returned from Python workers": "from_python",
    "number of output rows": "rows",
}

_TRACER: Tracer | None = None


def layer_of(module: str | None) -> str | None:
    for prefix, layer in LAYERS:
        if module and (module == prefix or module.startswith(prefix + ".")):
            return layer
    return None


def _call(fn, layer, name, args, kwargs):
    """Module-level so a wrapper pickles small: UDF bodies reached through
    a wrapped name stay importable on the Python workers, where no
    tracer is installed."""
    tr = _TRACER
    if tr is None or not tr.recording or threading.get_ident() != tr.main:
        return fn(*args, **kwargs)
    with tr.span(name, layer):
        return fn(*args, **kwargs)


def _wrap(fn, layer, name):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return _call(fn, layer, name, args, kwargs)
    traced.__perfbench_layer__ = layer
    return traced


class Tracer:
    """Holds spans (name, layer, start, end, parent, op id, py4j calls),
    Catalyst phases and the op/phase structure of the traced runs."""

    def __init__(self):
        self.main = threading.get_ident()
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op_id = -1
        self.py4j = 0
        self.recording = False
        self.phases: list[tuple[str, dict]] = []
        self.storage_peak = 0
        self._wrapped: dict = {}

    # -- installation ------------------------------------------------
    def install(self, namespaces=("__spark_entry__", "perfbench.workloads")):
        global _TRACER
        _TRACER = self
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n in namespaces or n == PKG
                                      or n.startswith(PKG + "."))]
        classes = set()
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj):
                    layer = layer_of(getattr(obj, "__module__", None))
                    if layer is None or hasattr(obj, "__perfbench_layer__"):
                        continue
                    key = id(obj)
                    if key not in self._wrapped:
                        self._wrapped[key] = (obj, _wrap(
                            obj, layer, f"{obj.__module__.rsplit('.', 1)[-1]}."
                                        f"{obj.__name__}"))
                    setattr(mod, name, self._wrapped[key][1])
                elif inspect.isclass(obj) and layer_of(obj.__module__):
                    classes.add(obj)
        for cls in classes:
            layer = layer_of(cls.__module__)
            for name, obj in list(vars(cls).items()):
                if not name.startswith("_") and inspect.isfunction(obj) \
                        and not hasattr(obj, "__perfbench_layer__"):
                    setattr(cls, name, _wrap(obj, layer,
                                             f"{cls.__name__}.{name}"))

    def attach(self, spark):
        """Count py4j round trips and listen for executed queries."""
        gw = spark.sparkContext._gateway
        client = gw._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            if threading.get_ident() == self.main:
                self.py4j += 1
            return send(*args, **kwargs)
        client.send_command = counting
        from pyspark.java_gateway import ensure_callback_server_started
        ensure_callback_server_started(gw)
        self._listener = _PhaseListener(self.phases)
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- structure ---------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record [name, layer, start, end, parent, op id, py4j calls]."""
        s = [name, layer, time.time(), None,
             self.stack[-1] if self.stack else -1, self.op_id, self.py4j]
        self.spans.append(s)
        self.stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.stack.pop()
            s[3] = time.time()
            s[6] = self.py4j - s[6]

    def sample_storage(self, spark):
        info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in info)
        self.storage_peak = max(self.storage_peak, total)


class _PhaseListener:
    """QueryExecutionListener implemented through the py4j callback
    server; records the planning tracker of every executed query."""

    def __init__(self, sink):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            it = qe.tracker().phases().iterator()
            phases = {}
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = (kv._2().startTimeMs() / 1000.0,
                                   kv._2().durationMs() / 1000.0)
            self.sink.append((func_name, phases))
        except Exception as e:  # never fail the query from a listener
            self.sink.append((func_name, {"error": repr(e)}))

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ---------------------------------------------------------------------
# event log
def read_event_log(log_dir: str) -> dict:
    """Jobs, stages (with task-level aggregates) and write-file counts."""
    jobs, stage_job, stages, tasks = {}, {}, {}, {}
    metric_kind: dict[int, tuple[str, str]] = {}
    driver_acc: dict[int, float] = {}

    def plan_metrics(node):
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            metric_kind[m["accumulatorId"]] = (name, m["name"])
        for c in node.get("children", []):
            plan_metrics(c)

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                         "end": None}
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    tasks.setdefault(e["Stage ID"], []).append(e)
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3}
                elif ev.endswith("SparkListenerSQLExecutionStart") or \
                        ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(e.get("sparkPlanInfo", {}))
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in e.get("accumUpdates", []):
                        driver_acc[acc] = driver_acc.get(acc, 0) + float(val)
    for sid, st in stages.items():
        st.update(_task_aggregate(tasks.get(sid, []), metric_kind))
        st["job"] = stage_job.get(sid)
    files = sum(v for acc, v in driver_acc.items()
                if metric_kind.get(acc, ("", ""))[1] == "number of written files")
    return {"jobs": jobs, "stages": stages, "files_written": files,
            "driver_acc": driver_acc, "metric_kind": metric_kind}


def _task_aggregate(tasks: list[dict], kinds) -> dict:
    agg = {k: 0.0 for k in (
        "run_s", "cpu_s", "deser_s", "wait_s", "gc_s", "shuffle_w", "shuffle_r",
        "shuffle_w_s", "spill", "in_bytes", "out_bytes", "scan_s",
        *UDF_METRICS.values())}
    agg["peak_mem"] = 0
    durs = []
    for e in tasks:
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        dur = (ti["Finish Time"] - ti["Launch Time"]) / 1e3
        durs.append(dur)
        run = tm.get("Executor Run Time", 0) / 1e3
        deser = tm.get("Executor Deserialize Time", 0) / 1e3
        getting = (ti["Finish Time"] - ti["Getting Result Time"]) / 1e3 \
            if ti.get("Getting Result Time") else 0.0
        delay = max(0.0, dur - run - deser
                    - tm.get("Result Serialization Time", 0) / 1e3 - getting)
        sr = tm.get("Shuffle Read Metrics", {})
        sw = tm.get("Shuffle Write Metrics", {})
        agg["run_s"] += run
        agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        agg["deser_s"] += deser
        agg["wait_s"] += delay + deser
        agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        agg["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
        agg["shuffle_w_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        agg["shuffle_r"] += sr.get("Remote Bytes Read", 0) + \
            sr.get("Local Bytes Read", 0)
        agg["spill"] += tm.get("Memory Bytes Spilled", 0) + \
            tm.get("Disk Bytes Spilled", 0)
        agg["in_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        agg["out_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
        agg["peak_mem"] = max(agg["peak_mem"], tm.get("Peak Execution Memory", 0))
        for a in ti.get("Accumulables", []):
            node, metric = kinds.get(a.get("ID"), ("", a.get("Name", "")))
            try:
                val = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if metric in UDF_METRICS and any(p in node for p in PYTHON_NODE):
                agg[UDF_METRICS[metric]] += val
            elif metric == "scan time" and node.startswith("Scan"):
                agg["scan_s"] += val / 1e3
    agg["n_tasks"] = len(durs)
    agg["skew"] = (max(durs) / max(statistics.median(durs), 1e-3)) \
        if len(durs) >= 2 else 1.0
    return agg


# ---------------------------------------------------------------------
# interval helpers
def _union(iv):
    out = []
    for s, e in sorted(iv):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _length(iv):
    return sum(e - s for s, e in iv)


def _subtract(iv, cut):
    """Disjoint sorted ``iv`` minus disjoint sorted ``cut``."""
    out = []
    for s, e in iv:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append([cur, cs])
            cur = max(cur, ce)
        if cur < e:
            out.append([cur, e])
    return out


def _clip(iv, lo, hi):
    return [[max(s, lo), min(e, hi)] for s, e in iv if e > lo and s < hi]


# ---------------------------------------------------------------------
LABELS = ["session", "sources", "plans", "operators", "functions", "scratch",
          "catalyst", "exec", "udf", "unattributed"]


def reduce_trace(tr: Tracer, log: dict, runs: int) -> tuple[dict, dict]:
    """(per-layer metrics per run, artifact with per-op breakdowns)."""
    spans = tr.spans
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        kids.setdefault(s[4], []).append(i)
    ops = [i for i, s in enumerate(spans) if s[1] == "op"]
    jobs = sorted((j["start"], j["end"] or j["start"], jid)
                  for jid, j in log["jobs"].items())
    job_iv = _union([[s, e] for s, e, _ in jobs])
    stages = log["stages"]
    phases = [(f, p) for f, p in tr.phases if "error" not in p]
    tot = {k: 0.0 for k in (
        "plans.py4j_calls", "plans.eager_jobs", "plans.eager_s",
        "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "exec.jobs", "exec.stages", "exec.tasks",
        "sources.write_s")}
    layer_self = {k: 0.0 for k in LABELS}
    per_op, stage_rows, skew_w, used = [], [], [], set()

    def driver_iv(i):
        s = spans[i]
        iv = [[s[2], s[3]]]
        return _subtract(iv, _union([[spans[c][2], spans[c][3]]
                                     for c in kids.get(i, [])]))

    def walk(i):
        yield i
        for c in kids.get(i, []):
            yield from walk(c)

    for oi in ops:
        op = spans[oi]
        lo, hi = op[2], op[3]
        sub = list(walk(oi))
        build = [[spans[i][2], spans[i][3]] for i in sub
                 if spans[i][1] == "phase" and spans[i][0] == "build"]
        op_jobs = [(s, e, jid) for s, e, jid in jobs if lo <= s <= hi]
        eager = [(s, e) for s, e, _ in op_jobs
                 if any(bs <= s <= be for bs, be in build)]
        tot["plans.eager_jobs"] += len(eager)
        tot["plans.eager_s"] += _length(_union([[s, e] for s, e in eager]))
        tot["exec.jobs"] += len(op_jobs)
        tot["plans.py4j_calls"] += sum(spans[i][6] for i in sub
                                       if spans[i][1] == "phase"
                                       and spans[i][0] == "build")
        # labelled, disjoint driver-side intervals of the layer spans
        labelled = []
        op_job_iv = _clip(job_iv, lo, hi)
        for i in sub:
            layer = spans[i][1]
            if layer in ("op", "phase"):
                continue
            for s, e in _subtract(driver_iv(i), op_job_iv):
                labelled.append((s, e, layer))
            if layer == "sources" and spans[i][0].split(".")[-1] in \
                    SOURCE_WRITES and spans[spans[i][4]][1] != "sources":
                tot["sources.write_s"] += spans[i][3] - spans[i][2]
        labelled.sort()
        cat = []
        for _, ph in phases:
            for name, (s, d) in ph.items():
                if lo <= s <= hi:
                    tot[f"catalyst.{name}_ms"] = \
                        tot.get(f"catalyst.{name}_ms", 0.0) + d * 1e3
                    cat.append([s, s + d])
        cat = _union(cat)
        jids = {jid for _, _, jid in op_jobs}
        ost = {sid: st for sid, st in stages.items() if st["job"] in jids}
        used.update(ost)
        tot["exec.stages"] += len(ost)
        tot["exec.tasks"] += sum(st["n_tasks"] for st in ost.values())
        st_iv = sorted((st["start"], st["end"], sid) for sid, st in ost.items())
        breakdown = _attribute(lo, hi, labelled, cat, st_iv, stages)
        for k, v in breakdown.items():
            layer_self[k] += v
        dominant = max((k for k in breakdown if k != "unattributed"),
                       key=lambda k: breakdown[k], default="unattributed")
        per_op.append({"op": op[0].split(":", 1)[1], "wall_s": hi - lo,
                       "layers_s": {k: round(v, 4) for k, v in breakdown.items()},
                       "dominant": dominant, "jobs": len(op_jobs),
                       "eager_jobs": len(eager), "stages": len(ost)})
        for sid, st in sorted(ost.items()):
            wall = st["end"] - st["start"]
            if st["n_tasks"] >= 2:
                skew_w.append((st["skew"], wall))
            stage_rows.append({
                "op": per_op[-1]["op"], "stage": sid, "wall_s": round(wall, 4),
                "tasks": st["n_tasks"], "skew": round(st["skew"], 3),
                "task_run_s": round(st["run_s"], 4),
                "task_wait_s": round(st["wait_s"], 4),
                "shuffle_write_bytes": st["shuffle_w"],
                "udf_compute_s": round(st["compute_ms"] / 1e3, 4),
                "udf_init_s": round(st["init_ms"] / 1e3, 4)})
    sel = [stages[sid] for sid in used]

    def ssum(key):
        return sum(st[key] for st in sel)
    wsum = sum(w for _, w in skew_w)
    m = {
        "sources.scan_s": ssum("scan_s"),
        "sources.bytes_read": ssum("in_bytes"),
        "sources.write_s": tot["sources.write_s"],
        "sources.bytes_written": ssum("out_bytes"),
        "sources.build_s": layer_self["sources"],
        "plans.build_s": layer_self["plans"],
        "plans.py4j_calls": tot["plans.py4j_calls"],
        "plans.eager_jobs": tot["plans.eager_jobs"],
        "plans.eager_s": tot["plans.eager_s"],
        "operators.build_s": layer_self["operators"],
        "functions.build_s": layer_self["functions"],
        "catalyst.analysis_ms": tot.get("catalyst.analysis_ms", 0.0),
        "catalyst.optimization_ms": tot.get("catalyst.optimization_ms", 0.0),
        "catalyst.planning_ms": tot.get("catalyst.planning_ms", 0.0),
        "catalyst.wall_s": layer_self["catalyst"],
        "exec.jobs": tot["exec.jobs"],
        "exec.stages": tot["exec.stages"],
        "exec.tasks": tot["exec.tasks"],
        "exec.wall_s": layer_self["exec"],
        "exec.task_wait_s": ssum("wait_s"),
        "exec.task_run_s": ssum("run_s"),
        "exec.task_cpu_s": ssum("cpu_s"),
        "exec.gc_s": ssum("gc_s"),
        "exec.shuffle_write_bytes": ssum("shuffle_w"),
        "exec.shuffle_read_bytes": ssum("shuffle_r"),
        "exec.shuffle_write_s": ssum("shuffle_w_s"),
        "exec.spill_bytes": ssum("spill"),
        "udf.wall_s": layer_self["udf"],
        "udf.boot_s": ssum("boot_ms") / 1e3,
        "udf.init_s": ssum("init_ms") / 1e3,
        "udf.compute_s": ssum("compute_ms") / 1e3,
        "udf.bytes_to_python": ssum("to_python"),
        "udf.bytes_from_python": ssum("from_python"),
        "udf.rows": ssum("rows"),
        "unattributed_s": layer_self["unattributed"],
    }
    n = max(runs, 1)
    out = {k: v / n for k, v in m.items()}
    out["exec.peak_exec_mem_bytes"] = max((st["peak_mem"] for st in sel),
                                          default=0)
    out["exec.stage_skew"] = sum(s * w for s, w in skew_w) / wsum \
        if wsum else 1.0
    out["sources.files_written"] = log["files_written"] / n
    out["scratch.storage_bytes_peak"] = tr.storage_peak
    t0 = spans[0][2] if spans else 0.0
    votes: dict[str, list[str]] = {}
    for o in per_op:
        votes.setdefault(o["op"], []).append(o["dominant"])
    artifact = {"dominant": {op: max(set(v), key=v.count)
                             for op, v in votes.items()},
                "ops": per_op, "stages": stage_rows,
                "spans": [[sp[0], sp[1], round(sp[2] - t0, 6),
                           round(sp[3] - sp[2], 6), sp[4], sp[5], sp[6]]
                          for sp in spans],
                "span_fields": ["name", "layer", "start_s", "dur_s", "parent",
                                "op", "py4j_calls"],
                "catalyst_queries": len(phases),
                "listener_errors": len(tr.phases) - len(phases)}
    return out, artifact


def _attribute(lo, hi, labelled, cat, st_iv, stages) -> dict:
    """Split [lo, hi] among layers.  Priority: Catalyst phase, then a
    running stage (split exec/udf by the stage's Python share of task
    time), then the innermost engine span, else unattributed."""
    res = {k: 0.0 for k in LABELS}
    cuts = {lo, hi}
    for s, e, _ in labelled:
        cuts.update((s, e))
    for s, e in cat:
        cuts.update((s, e))
    for s, e, _ in st_iv:
        cuts.update((s, e))
    pts = sorted(c for c in cuts if lo <= c <= hi)
    starts = [s for s, _, _ in labelled]
    for a, b in zip(pts, pts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        if any(s <= mid < e for s, e in cat):
            res["catalyst"] += b - a
            continue
        st = next((sid for s, e, sid in st_iv if s <= mid < e), None)
        if st is not None:
            info = stages[st]
            share = min(1.0, info["compute_ms"] / 1e3 / info["run_s"]) \
                if info["run_s"] > 0 else 0.0
            res["udf"] += (b - a) * share
            res["exec"] += (b - a) * (1 - share)
            continue
        k = bisect_right(starts, mid) - 1
        if k >= 0 and labelled[k][0] <= mid < labelled[k][1]:
            res[labelled[k][2]] += b - a
        else:
            res["unattributed"] += b - a
    return res
