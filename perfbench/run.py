#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  It makes the workload's inputs from the
seed, sets up three times (reporting the median), then measures closed-
loop runs for at least ``--seconds`` seconds, checking every run's
outputs (the first run against an oracle).  Stdout ends with one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the end-
to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a report with the environment
stamp, input sizes, per-op medians, the tail percentile and its sample
count, and the failure fraction.  ``--trace 1`` also writes
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """One benchmark process: a workload, its session and its meters."""

    def __init__(self, args, tmp):
        from perfbench import harness, workloads
        self.h = harness
        self.args = args
        self.tmp = tmp
        self.env = harness.fit_environment(ROOT, tmp)
        self.wl = workloads.WORKLOADS[args.workload](args.seed, tmp)
        self.spark = None
        self.meter = harness.TreeMeter()
        self.tracer = None
        self.session_start_s: list[float] = []
        self.base_rdds = 0

    def close(self):
        self.meter.close()
        self.h.stop_session(self.spark)
        self.spark = None

    def setup(self, extra=None) -> list[float]:
        """Set up SETUP_REPS times; each repetition (re)starts the session
        (the first also launches the JVM).  ``extra`` conf applies to the
        last session only, the one the runs use."""
        times = []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            self.wl.prepare_setup()
            conf = self.env["conf"]
            if extra and rep == SETUP_REPS - 1:
                conf = dict(conf, **extra)
            t0 = time.perf_counter()
            self.spark = self.h.start_session(self.env["cpus"], conf)
            self.session_start_s.append(time.perf_counter() - t0)
            self.wl.spark = self.spark
            self.wl.setup()
            times.append(time.perf_counter() - t0)
        self.env["spark_version"] = self.spark.version
        self.env["conf_used"] = {
            k: v for k, v in self.spark.sparkContext.getConf().getAll()
            if "dir" not in k and "Options" not in k
            and k not in ("spark.app.id", "spark.app.startTime",
                          "spark.driver.port")}
        self.base_rdds = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        return times

    def run_once(self, run_no: int) -> dict:
        """One timed run, then untimed hygiene and checks."""
        import juliadb_jl_spark as jdb
        from juliadb_jl_spark.functions import curation
        tr = self.tracer if self.tracer and self.tracer.recording else None
        ops = self.wl.ops(run_no)
        lat, failed = [], []
        self.meter.begin()
        t0 = time.perf_counter()
        for op in ops:
            s = time.perf_counter()
            try:
                if tr:
                    tr.op_id += 1
                    with tr.span(f"op:{op.name}", "op"):
                        with tr.span("build", "phase"):
                            built = op.build()
                        with tr.span("action", "phase"):
                            op.action(built)
                else:
                    op.action(op.build())
                lat.append(time.perf_counter() - s)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                lat.append(float("inf"))
                failed.append(op.name)
            if tr:
                tr.recording = False
                tr.sample_storage(self.spark)
                tr.recording = True
        run_s = time.perf_counter() - t0
        cpu_s, rss_mb = self.meter.end()
        if tr:
            tr.recording = False
        outputs = self.wl.collect()
        amp = self.wl.amplification()
        released = jdb.release_scratch(blocking=True)
        jdb.clear_dup_stats()
        curation._SPLIT_SIZE_MEMO.clear()   # no public clear exists yet
        self.wl.after_run()
        leaked = len(self.spark.sparkContext._jsc.getPersistentRDDs()) \
            - self.base_rdds
        try:
            wrong = [n for n in self.wl.check(outputs) if n not in failed]
        except Exception:
            traceback.print_exc(file=sys.stderr)
            wrong = ["<check>"]
        if tr:
            tr.recording = True
        return {"run_s": run_s, "lat": lat, "names": [o.name for o in ops],
                "failed": failed, "wrong": wrong, "cpu_s": cpu_s,
                "rss_mb": rss_mb, "released": released, "leaked": leaked,
                "amp": amp, "ops": len(ops)}

    def measure(self, seconds: float) -> list[dict]:
        """Closed-loop runs until their timed parts add up to ``seconds``
        (at least one run)."""
        runs, spent = [], 0.0
        while not runs or spent < seconds:
            runs.append(self.run_once(len(runs) + 1))
            spent += runs[-1]["run_s"]
        return runs


def op_latency(runs: list[dict]) -> dict:
    """Median and tail latency of single ops (queries, curation stages);
    a failed op counts as infinitely slow."""
    from perfbench import harness as h
    lat = [x for r in runs for x in r["lat"]]
    tail, pct, n = h.tail(lat)
    return {"op_p50_s": h.finite(h.median(lat)), "op_tail_s": h.finite(tail),
            "tail_percentile": round(pct, 1), "tail_samples": n}


def summarize(runs: list[dict], wl, setup: list[float]):
    from perfbench import harness as h
    e2e = {
        "setup_s": h.median(setup),
        "run_s": h.median([r["run_s"] for r in runs]),
        "items_per_s": wl.items_per_run * len(runs)
        / sum(r["run_s"] for r in runs),
        "cpu_s": h.median([r["cpu_s"] for r in runs]),
        "peak_rss_mb": h.median([r["rss_mb"] for r in runs]),
    }
    by_op: dict[str, list[float]] = {}
    for r in runs:
        for name, x in zip(r["names"], r["lat"]):
            by_op.setdefault(name, []).append(x)
    info = {"runs": len(runs), **op_latency(runs),
            "op_median_s": {k: round(h.median(v), 4) for k, v in by_op.items()},
            "failed_ops": sorted({x for r in runs for x in r["failed"]}),
            "wrong_ops": sorted({x for r in runs for x in r["wrong"]}),
            "scratch_released": sum(r["released"] for r in runs),
            "leaked_rdds": max(r["leaked"] for r in runs),
            **runs[-1]["amp"]}
    return e2e, info


def counts(runs: list[dict]) -> tuple[int, int]:
    """(attempted, failed) ops; a wrong output counts as failed."""
    return (sum(r["ops"] for r in runs),
            sum(len(r["failed"]) + len(r["wrong"]) for r in runs))


def bench(args, tmp) -> tuple[dict, dict]:
    from perfbench import harness as h
    marks = [("start", time.perf_counter())]
    b = Bench(args, tmp)
    wl = b.wl
    try:
        marks.append(("inputs", time.perf_counter()))
        # the traced process logs Spark events from its last set-up on
        setup = b.setup(h.event_log_conf(tmp) if args.trace else None)
        marks.append(("setup", time.perf_counter()))
        extra = []
        if args.trace:
            metrics, runs, extra = traced(b)
        else:
            runs = b.measure(args.seconds)
        marks.append(("measure", time.perf_counter()))
        e2e, info = summarize(runs, wl, setup)
        if not args.trace:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
        attempted, failed = counts(runs + extra)
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "python": platform.python_version(),
            "spark": b.env["spark_version"],
            "cores": b.env["cpus"], "host_cpus": h.host_cpus(),
            "conf": b.env["conf_used"], "inputs": wl.info,
            "item": wl.item, "items_per_run": wl.items_per_run,
            "setup_reps_s": setup, "session_start_reps_s": b.session_start_s,
            "failed_frac": failed / attempted, **info,
            "metrics": {k: [v, E2E_UNITS[k]] for k, v in e2e.items()},
            "wall_s": {name: round(t - marks[i][1], 2)
                       for i, (name, t) in enumerate(marks[1:])},
        }
        if args.trace:
            report["trace_artifact"] = os.path.relpath(artifact_path(args),
                                                       ROOT)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        return result, report
    finally:
        b.close()


def artifact_path(args) -> str:
    return os.path.join(ROOT, ".perfbench_out",
                        f"trace-{args.workload}-{args.seed}.json")


def traced(b: Bench):
    """Trace the measured runs (the first run of the process on) and
    reduce spans, Catalyst phases and the event log to per-layer metrics
    per traced run; write the artifact.  Then time one untraced and one
    traced run for the overhead; only the measured runs are reduced.
    Returns (metrics, traced runs, overhead runs)."""
    from perfbench import harness as h
    from perfbench import trace as T
    tr = T.Tracer()
    tr.install()
    tr.attach(b.spark)
    b.tracer = tr
    tr.recording = True
    runs = b.measure(b.args.seconds)
    keep = len(tr.spans)
    tr.recording = False
    more = [b.run_once(len(runs) + 1)]
    tr.recording = True
    more.append(b.run_once(len(runs) + 2))
    del tr.spans[keep:]
    overhead = more[1]["run_s"] - more[0]["run_s"]
    tr.recording = False
    h.stop_session(b.spark)          # completes the event log
    b.spark = None
    log = T.read_event_log(os.path.join(b.tmp, "eventlog"))
    layer, art = T.reduce_trace(tr, log, len(runs))
    attempted, failed = counts(runs)
    lat = op_latency(runs)
    layer.update({
        "op_p50_s": lat["op_p50_s"], "op_tail_s": lat["op_tail_s"],
        "session.start_s": h.median(b.session_start_s),
        "scratch.released": sum(r["released"] for r in runs) / len(runs),
        "scratch.leaked_rdds": max(r["leaked"] for r in runs),
        "trace.run_s": h.median([r["run_s"] for r in runs]),
        "trace.overhead_s": overhead,
        "failed_frac": failed / attempted,
        **runs[-1]["amp"],
    })
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in SPEC["per_layer"]}
    art.update({"workload": b.args.workload, "seed": b.args.seed,
                "traced_runs": len(runs),
                "per_layer": {k: v["value"] for k, v in metrics.items()}})
    path = artifact_path(b.args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1)
    return metrics, runs, more


def main(argv=None) -> int:
    args = parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "juliadb_jl_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: juliadb_jl_spark/ and __spark_entry__.py must sit "
              "next to perfbench/ (run from a repository checkout)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        result, report = bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
