"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (sized to fit the driver's ~2000-char
stdout capture — VERDICT r7 #4):
  {"metric": "total_min_sec", "value": N, "unit": "sec",
   "queries": {"q01_pricing_summary": min_sec, ...},
   "total_median_sec": N, "total_cpu_sec": N, "load": [1m,5m,15m],
   "runs": 3, "sf": 0.1, "full_report": ".../BENCH_FULL.json"}
The full three-dict report (medians + minima + CPU per query) goes to
BENCH_FULL.json at the repo root.

Protocol: per query 1 warm-up + 3 timed runs, median reported; per-query
MINIMA and the host load averages ride along (VERDICT r2 protocol note:
medians on a loaded shared host made cross-round comparisons noise-bound
— minima are the load-robust statistic).  The action is a noop-sink
write so every output column is actually computed (a bare count() would
let Catalyst prune the aggregates away).

`queries_cpu` (VERDICT r3 #4): per-query CPU seconds, measured as the
utime+stime delta of THIS process's whole subtree (/proc stat walk) —
in local mode that is the bench driver + the one Spark JVM + every
Python UDF worker.  CPU time is the load-independent statistic: host
iowait and ambient contention stretch wall time but barely change CPU
consumed, so cross-round comparisons should read `queries_cpu` first.
(Chosen over the REST /api/v1 stage `executorCpuTime` because the
process tree also counts pandas-UDF worker CPU, which stage metrics
book as executor wait, and it is immune to retained-stage eviction.)

Load gate + control op (VERDICT r8 #1): BENCH_r08 was recorded at
load_start 11.35 on this 32-CPU box and its wall numbers overstated
qa4 by 1.9× vs idle — contaminated artifacts cost a judge session to
re-adjudicate.  Two defenses, both in-artifact:
 - the bench WAITS (up to $SPARK_GRAFT_BENCH_IDLE_TIMEOUT s, default
   600) for the 1-min load to drop below $SPARK_GRAFT_BENCH_MAX_LOAD
   (default 2.0) before measuring; if the host never goes idle it
   proceeds but stamps ``"noisy": true`` into the final line so the
   driver's parse can never mistake a loaded-host number for a
   regression.
 - ``q29_stack`` is designated the unchanged-code CONTROL op: its
   idle-host minimum is pinned in ``CONTROL_REF`` and every artifact
   carries ``control: {op, min, ref, drift}`` — drift > ~0.2 on the
   control means the whole artifact's walls are inflated by ambient
   contention, not by code (this op's plan is a pure native unpivot
   that no round has touched since r6).  Update CONTROL_REF only when
   the control op's code or the host changes, with a same-session A/B.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "q01_pricing_summary",   # scan + filter + 8-agg groupreduce
    "q03_map_compute",       # full-scan projection arithmetic
    "q05_join_inner",        # fact⋈dim shuffle/broadcast join
    "q09_broadcast_3way",    # 3-way broadcast chain + agg
    "q11_asofjoin",          # union + window asof
    "q14_groupby_median",    # holistic quantiles
    "q21_window_rank",       # join + rank window
    "q24_topk_global",       # TakeOrdered
    "q29_stack",             # unpivot (2× row explosion)
    "q32_tumbling_window",   # event-time windowed agg
    "q33_sessionize",        # lag + gap sessionization
    "q34_dedup_exact",       # fingerprint hash-groupBy dedup
    "q35_ngram_jaccard",     # shingle inverted-index self-join
    "q36_minhash_lsh",       # minhash + banded LSH (portable family since
                             # r9 — same declared query the driver has
                             # benched every round; never drop bench rows)
    "qb0_minhash_lsh_scale",  # minhash signatures + banded LSH (crc32perm
                              # scale family; q36 is its portable oracle twin)
    "q38_similarity_topk",   # brute-force cosine top-k
    "q99_shipping_priority",  # TPC-H Q3 shape: 3-table join + agg + top-10
    "q9a_regional_supplier_volume",  # TPC-H Q5 shape: 6-table join chain
    "q9g_market_share",  # TPC-H Q8 shape: 8 relations, CASE agg, 1 shuffle
    "q9b_dedup_incremental",  # cosourced single-scan fp-keyed dedup election
    "q9h_dsir_scores",        # DSIR hashed-ngram importance scoring
    "q9j_paragraph_dedup",    # paragraph keeper election + reconstruction
    "q9t_chunk_documents",    # token-window chunking (serving handoff)
    "q9y_waiting_suppliers",  # TPC-H Q21 shape: window-rewritten EXISTS
    "q9z_small_quantity_revenue",  # TPC-H Q17 shape: window-rewritten scalar subquery
    "qaf_nation_volume",      # TPC-H Q7 shape: two-direction nation pair, dims broadcast
    "qa3_curation_funnel",    # filter-cascade audit: one-pass 2n-sum agg
    "qa4_split_leakage",      # eval-gram-pruned train join (r6)
    "qam_min_cost_supplier",  # TPC-H Q2 shape: rank-1 window over agg
]


# --sf1-rung subset (VERDICT r9 #4): the 5 heaviest document ops, run
# at sf1 (10x sf0.1, tools/make_sf.py) so the tracked artifact can SEE
# parallelism regressions — at sf0.1 every row is sub-second and 8
# cores ties 32, so a lost _spread or a single-partition window would
# be invisible in the main bench.  Same methodology (load gate, noop
# sink, warm-up + runs, min/median/cpu), same one-line JSON, stamped
# "rung": "sf1".  Tracked as BENCH_SF1_r10.json.
SF1_RUNG = [
    "q35_ngram_jaccard",
    "q36_minhash_lsh",
    "qb0_minhash_lsh_scale",
    "qa4_split_leakage",
    "q9h_dsir_scores",
]


# Idle-host minimum of the control op (q29_stack) on this 32-CPU box,
# from the judge's round-8 idle re-run (VERDICT r8: 0.09 s) and the r8
# tracked artifact (0.0936 at load 11 — the op is too short to inflate
# much, which is exactly what makes it a good canary for *ambient*
# contention rather than data-size drift).
CONTROL_OP = "q29_stack"
CONTROL_REF = 0.093


def _await_idle() -> tuple[list[float] | None, bool]:
    """Block until the 1-min load average drops below
    $SPARK_GRAFT_BENCH_MAX_LOAD (default 2.0) or
    $SPARK_GRAFT_BENCH_IDLE_TIMEOUT seconds (default 600) elapse.
    Returns (final load sample, noisy) — noisy=True means the gate
    timed out and the artifact's walls must be read as contaminated."""
    try:
        max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
        timeout = float(os.environ.get(
            "SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "600"))
        deadline = time.time() + timeout
        load = [round(x, 2) for x in os.getloadavg()]
        while load[0] > max_load and time.time() < deadline:
            print(f"# load gate: 1-min load {load[0]} > {max_load}, "
                  f"waiting (deadline in {deadline - time.time():.0f}s)",
                  file=sys.stderr)
            time.sleep(min(15.0, max(1.0, deadline - time.time())))
            load = [round(x, 2) for x in os.getloadavg()]
        return load, load[0] > max_load
    except OSError:
        return None, False  # no loadavg on this platform → ungated


def _proc_tree_cpu(root: int) -> float | None:
    """Total utime+stime (seconds) of `root` plus every live descendant
    process, plus each tree member's REAPED-children time (cutime+
    cstime).  Without the reaped term, a PySpark python worker dying
    between two samples takes its accumulated CPU out of the later sum
    and the delta goes NEGATIVE (observed on rung ops that follow
    worker-pool churn); cutime/cstime folds a dead child's time into
    its parent at reap, so the sum stays monotonic for the tree."""
    try:
        clk = os.sysconf("SC_CLK_TCK")
        stats: dict[int, tuple[int, int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat", "rb") as fh:
                    s = fh.read().decode("ascii", "replace")
            except OSError:
                continue  # raced a process exit
            # comm can hold spaces/parens — fields start after the LAST ')'
            rest = s[s.rindex(")") + 2:].split()
            own = int(rest[11]) + int(rest[12])          # utime+stime
            reaped = int(rest[13]) + int(rest[14])       # cutime+cstime
            stats[int(p)] = (int(rest[1]), own + reaped)
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        total, stack = 0, [root]
        while stack:
            pid = stack.pop()
            if pid in stats:
                total += stats[pid][1]
            stack.extend(children.get(pid, []))
        return total / clk
    except (OSError, ValueError):
        return None  # non-procfs platform → cpu fields omitted


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    only = sys.argv[sys.argv.index("--one") + 1] \
        if "--one" in sys.argv else None
    headline = HEADLINE
    rung = None
    if "--sf1-rung" in sys.argv:
        # sf1 rung: the 5 heaviest ops at 10x data.  The directory is
        # NOT built here — a bench must never silently spend minutes
        # generating data; build it once with tools/make_sf.py.
        headline = SF1_RUNG
        rung = "sf1"
        sf_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".testdata", "sf1"))
        if not os.path.isdir(sf_dir):
            print(f"sf1 rung data missing at {sf_dir}; run "
                  "`python tools/make_sf.py 10` first", file=sys.stderr)
            sys.exit(2)

    if only is None and \
            os.environ.get("SPARK_GRAFT_BENCH_ISOLATED") == "1":
        # Isolated mode (VERDICT r5 #4): each query measured in its OWN
        # fresh process + Spark session, so a query's GC pressure / JIT
        # state / cache residue cannot contaminate another's number.
        # ~12s session startup per query — diagnostic tool, not the
        # default protocol.
        import subprocess
        agg: dict[str, dict] = {}
        for name in headline:
            env = dict(os.environ)
            env.pop("SPARK_GRAFT_BENCH_ISOLATED", None)
            env["SPARK_GRAFT_SF_DIR"] = sf_dir  # rung mode resolves its own
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                capture_output=True, text=True, env=env)
            line = r.stdout.strip().splitlines()[-1] if r.stdout else "{}"
            try:
                agg[name] = json.loads(line)
            except json.JSONDecodeError:
                print(f"bench error in {name}: {r.stderr[-500:]}",
                      file=sys.stderr)
                agg[name] = {"median": -1.0, "min": -1.0}
        ok = {k: v["median"] for k, v in agg.items() if v["median"] >= 0}
        iso = {
            "metric": "total_median_sec_isolated",
            "value": round(sum(ok.values()), 4), "unit": "sec",
            "queries": {k: v.get("median") for k, v in agg.items()},
            "queries_min": {k: v.get("min") for k, v in agg.items()},
            "queries_cpu": {k: v.get("cpu") for k, v in agg.items()
                            if v.get("cpu") is not None},
            "isolated": True, "runs": runs,
            "scratch_released": sum(v.get("scratch_released", 0)
                                    for v in agg.values()),
            "sf": os.path.basename(sf_dir.rstrip("/")).replace("sf", ""),
            # same no-invisible-override stamps as the main artifact
            # (VERDICT r9 #5)
            "extra_conf": os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""),
            "cpus": cpus,
        }
        if rung:
            iso["rung"] = rung
        print(json.dumps(iso))
        return

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # warm-run protocol (BASELINE.md): cache inputs in memory across runs —
    # the testdata is single-row-group parquet Spark can't split, so this
    # also restores scan parallelism
    os.environ.setdefault("SPARK_GRAFT_CACHE_INPUT", "1")
    # pre-run sample + gate: the end-of-run loadavg is dominated by
    # this bench's own 32 threads; ambient contention shows up HERE.
    # The gate waits for idle (or times out and stamps noisy=true).
    # --one subprocesses skip the wait (the full-run parent gates once;
    # 28 per-query waits would multiply the timeout).
    if only is None:
        load_start, noisy = _await_idle()
    else:
        try:
            load_start = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            load_start = None
        noisy = False
    import __spark_entry__ as E
    from juliadb_jl_spark.session import get_spark

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    qs = E.queries()

    me = os.getpid()

    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.functions import curation, scratch

    released = [0]      # summed release_scratch() counts, all runs

    def _reset():
        # outside the timed region: drop persisted intermediates and the
        # size-hint memos, so no run is served by an earlier run's
        # blocks or sizing jobs
        released[0] += scratch.release_scratch(blocking=True)
        jdb.clear_dup_stats()
        curation._SPLIT_SIZE_MEMO.clear()

    def run_once(fn) -> tuple[float, float | None]:
        c0 = _proc_tree_cpu(me)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            # a failing query must not bequeath its persisted
            # intermediates to the NEXT query's runs (review finding:
            # without this, a failed q36's shingle frame could be
            # cache-served to qb0's warm-up)
            _reset()
            raise
        wall = time.time() - t0
        c1 = _proc_tree_cpu(me)
        cpu = round(c1 - c0, 4) if c0 is not None and c1 is not None else None
        # Measurement-bug fix (r10): drop the operator-persisted
        # intermediates (scratch registry) after EVERY run, outside the
        # timed region.  Without this, Spark's CacheManager plan-matches
        # a rebuilt run's deterministic subtrees against the previous
        # run's persisted blocks and serves them — runs 2..n of
        # q35/q36/qb0/q9h were NOT recomputing their lift/DSIR
        # intermediates from the parquet inputs (measured at sf0.1:
        # q9h 2.4 CPU-s served vs ~20 honest; q35 10 vs 21; q36 9 vs
        # 25), which both violates the compute-from-inputs contract and
        # leaks storage until heap pressure destabilizes large-SF runs
        # (q36 at sf1: 3.1 s isolated vs 13.5 s late in an unreleased
        # rung sequence).  The sanctioned INPUT-table cache
        # (SPARK_GRAFT_CACHE_INPUT, r4 protocol) lives in
        # sources/testdata._CACHE and is deliberately NOT touched.
        # Affected rows' seconds RISE vs BENCH_r09 by construction —
        # see OPTIMIZATION_r10.md ("Bench protocol fix") for the
        # old-vs-new table.  The size-hint memos are cleared here too,
        # so every run pays its own sizing jobs.
        _reset()
        return wall, cpu

    if only is not None:
        fn = qs[only]
        run_once(fn)  # warm-up
        samples = [run_once(fn) for _ in range(runs)]
        times = [w for w, _ in samples]
        cpu_ts = [c for _, c in samples if c is not None]
        print(json.dumps({
            "query": only,
            "median": round(statistics.median(times), 4),
            "min": round(min(times), 4),
            "cpu": round(statistics.median(cpu_ts), 4) if cpu_ts else None,
            "scratch_released": released[0],
        }))
        return

    results: dict[str, float] = {}
    minima: dict[str, float] = {}
    cpus_med: dict[str, float] = {}
    for name in headline:
        fn = qs[name]
        try:
            run_once(fn)  # warm-up (JIT, broadcast, file listing caches)
            samples = [run_once(fn) for _ in range(runs)]
            times = [w for w, _ in samples]
            cpu_ts = [c for _, c in samples if c is not None]
            results[name] = round(statistics.median(times), 4)
            minima[name] = round(min(times), 4)
            if cpu_ts:
                cpus_med[name] = round(statistics.median(cpu_ts), 4)
        except Exception as ex:  # report and keep going
            print(f"bench error in {name}: {ex}", file=sys.stderr)
            results[name] = -1.0
            minima[name] = -1.0

    ok = {k: v for k, v in results.items() if v >= 0}
    ok_min = {k: v for k, v in minima.items() if v >= 0}
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None
    control = None
    if minima.get(CONTROL_OP, -1.0) >= 0:
        control = {
            "op": CONTROL_OP,
            "min": minima[CONTROL_OP],
            "ref": CONTROL_REF,
            "drift": round(minima[CONTROL_OP] / CONTROL_REF - 1.0, 2),
        }
    full = {
        "metric": "total_median_sec",
        "value": round(sum(ok.values()), 4),
        "unit": "sec",
        "queries": results,
        "queries_min": minima,
        "queries_cpu": cpus_med,
        "total_min_sec": round(sum(ok_min.values()), 4),
        "total_cpu_sec": round(sum(cpus_med.values()), 4),
        "load": load,
        "load_start": load_start,
        "noisy": noisy,
        "control": control,
        "runs": runs,
        "sf": sf_val,
        # VERDICT r9 #5: an env conf override must be visible IN the
        # artifact — empty string in clean (driver) runs.
        "extra_conf": os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""),
        "cpus": cpus,
        # r10 protocol fix self-description: per-run scratch release
        # (see run_once) — rows that persist intermediates are NOT
        # comparable to pre-r10 artifacts, which served runs 2..n from
        # run 1's cache blocks (q35/q36/qb0/q9h).  The count of
        # intermediates released over every run.
        "scratch_released": released[0],
    }
    if rung:
        full["rung"] = rung
    # The driver records only the LAST ~2000 chars of stdout, and the
    # three per-query dicts overflow that (VERDICT r7 #4: BENCH_r0N
    # `parsed` was null every round, tail mid-object).  Write the full
    # three-dict report to a file and print a compact final line —
    # per-query MINIMA only (the load-robust cross-round statistic) —
    # that fits the capture window.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_SF1_FULL.json" if rung else "BENCH_FULL.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        full_path = None
    line = {
        "metric": "total_min_sec",
        "value": full["total_min_sec"],
        "unit": "sec",
        "queries": minima,
        "total_median_sec": full["value"],
        "total_cpu_sec": full["total_cpu_sec"],
        "load": load,
        "load_start": load_start,
        "noisy": noisy,
        "control": control,
        "runs": runs,
        "sf": sf_val,
        "extra_conf": full["extra_conf"],
        "cpus": cpus,
        "scratch_released": released[0],
        "full_report": full_path,
    }
    if rung:
        line["rung"] = rung
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
