"""Driver-style correctness check: run every queries() entry at sf0.01 and
compare against oracle_sql() via DuckDB — row count + column names +
order-insensitive value hash (floats canonicalized like a hasher would).

Usage: python tools/check_contract.py [sf_dir] [query_name ...]
                                      [--json OUT] [--sliced-oracle]

--json OUT        write a per-query JSON artifact (the per-round
                  CORRECTNESS_SF1_r{N}.json rung record, VERDICT r7 #7).
                  Each query also records ``compiled``, the generated
                  classes it compiled, and the artifact records the
                  codegen cache size, the total compiled and the JVM's
                  Metaspace bytes before and after the sweep: the class
                  census that sizes `get_spark`'s codegen cache (run
                  once more with SPARK_GRAFT_EXTRA_CONF=
                  "spark.sql.codegen.cache.maxEntries=100" for Spark's
                  default).
--sliced-oracle   for the queries in SLICED (q35/qa7), whose DuckDB
                  oracles are infeasible above sf0.1 (~40-min run /
                  >78 GB spill at sf1 — VERDICT r7 #3), fall back to a
                  bounded check: run BOTH engines on a deterministic
                  doc_id slice of documents (DuckDB-feasible; the
                  engine reads a sliced copy of the parquet, so inputs
                  are identical) with the usual full compare, PLUS
                  structural invariants on the engine's FULL-corpus
                  output (pair canonicalization/bounds, curve
                  monotonicity, curve-vs-pairs cross-consistency).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Sliced-oracle fallback: {query: target docs kept in the slice}; the
# mod is computed from the rung's actual doc count (r9, VERDICT r8 #4 —
# a fixed mod sized for sf1 would keep 100k docs at sf10 and the
# oracle dies again).  10k docs ≈ 2× the sf0.1 corpus: near-dup pairs
# are spread uniformly across the id range (fixture property), so a
# 1/m slice keeps ~1/m² of true pairs — a real value signal at a
# DuckDB cost comparable to the (feasible) full sf0.1 oracle.  q37
# targets 5k: 31-bit simhashes of the template fixture cluster hard,
# so its pair count grows ~n².
SLICED_TARGET = {"q35_ngram_jaccard": 10_000, "qa7_dedup_rate_curve": 10_000,
                 "q37_simhash": 5_000, "q36_minhash_lsh": 10_000}


def sliced_mods(sf: str) -> dict[str, int]:
    """Per-query doc_id mod for this rung: keep ~target docs (mod 1 =
    the full corpus, i.e. slicing degenerates to the plain check)."""
    p = os.path.join(sf, "documents.parquet")
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    return {q: max(1, round(n / t)) for q, t in SLICED_TARGET.items()}


def _sliced_dir(sf: str, mod: int) -> str:
    """A copy of `sf` whose documents.parquet keeps doc_id % mod == 0
    (other tables symlinked) — both engines then read the exact same
    restricted input through their normal table-loading paths."""
    import tempfile
    out = os.path.join(tempfile.gettempdir(),
                       f"jdbspark_slice_{os.path.basename(sf.rstrip('/'))}"
                       f"_m{mod}")
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = os.path.join(sf, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(src) or os.path.exists(dst):
            continue
        if t == "documents":
            duckdb.connect().execute(
                f"COPY (SELECT * FROM read_parquet('{src}') "
                f"WHERE doc_id % {mod} = 0) TO '{dst}' (FORMAT PARQUET)")
        else:
            os.symlink(src, dst)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out


def _full_corpus_invariants(name: str, pdf: pd.DataFrame) -> list[str]:
    """Cheap structural checks on the engine's FULL-corpus output at
    rungs where the oracle cannot run (VERDICT r7 #3)."""
    probs = []
    if name == "q35_ngram_jaccard":
        if not (pdf["id_a"] < pdf["id_b"]).all():
            probs.append("pair not canonicalized: some id_a >= id_b")
        if pdf.duplicated(["id_a", "id_b"]).any():
            probs.append("duplicate (id_a, id_b) pairs")
        if len(pdf) and not pdf["jaccard"].between(0.5, 1.0).all():
            probs.append("jaccard outside [threshold, 1]")
    elif name == "q37_simhash":
        if not (pdf["id_a"] < pdf["id_b"]).all():
            probs.append("pair not canonicalized: some id_a >= id_b")
        if pdf.duplicated(["id_a", "id_b"]).any():
            probs.append("duplicate (id_a, id_b) pairs")
        if len(pdf) and not pdf["hamming"].between(0, 3).all():
            probs.append("hamming outside [0, max_hamming]")
    elif name == "qa7_dedup_rate_curve":
        c = pdf.sort_values("threshold", ignore_index=True)
        for col in ("n_pairs", "n_docs_flagged"):
            if not c[col].is_monotonic_decreasing:
                probs.append(f"{col} not non-increasing in threshold")
            if (c[col] < 0).any():
                probs.append(f"negative {col}")
        if (c["n_docs_flagged"] > 2 * c["n_pairs"]).any():
            probs.append("n_docs_flagged > 2*n_pairs (impossible: each "
                         "pair flags at most 2 docs)")
        if ((c["n_pairs"] > 0) & (c["n_docs_flagged"] < 2)).any():
            probs.append("pairs present but <2 docs flagged")
    return probs


def _metaspace_bytes(spark) -> int:
    """Used bytes of the driver JVM's Metaspace pool (generated classes
    live there until the codegen cache drops them)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return int(pool.getUsage().getUsed())
    return -1


def canon(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
    pdf = pdf.sort_values(cols, ignore_index=True)
    payload = pdf.to_csv(index=False, float_format="%.9g")
    return hashlib.md5(payload.encode()).hexdigest()


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i:i + 2]
    sliced_mode = "--sliced-oracle" in args
    if sliced_mode:
        args.remove("--sliced-oracle")
    sf = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    import __spark_entry__ as E
    from juliadb_jl_spark.plans.diagnostics import compiled_classes
    from juliadb_jl_spark.session import get_spark
    spark = get_spark("contract-check", cpus=16, shuffle_partitions=16)
    compiled0, meta0 = compiled_classes(spark), _metaspace_bytes(spark)

    # Fresh DuckDB connection per oracle (r9): at the sf10 rung a
    # long-lived connection accumulated state across big/interrupted
    # queries until 16 KB allocations failed — q9a (green at sf1)
    # spuriously "OOM"ed.  Views are cheap to recreate; the state is not.
    def _fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS "
                          f"SELECT * FROM read_parquet('{p}')")
        return c

    qs, osql = E.queries(), E.oracle_sql()
    mods = sliced_mods(sf) if sliced_mode else {}
    n_pass = n_fail = n_rowsonly = n_capacity = 0
    records: dict[str, dict] = {}
    cross: dict[str, float] = {}  # q35-vs-qa7 full-corpus consistency
    # Per-query capacity watchdog (r9, VERDICT r8 #4): at sf10 a single
    # runaway oracle (or a Spark plan that only works smaller) must be
    # RECORDED as a capacity boundary, not hang the whole sweep.  0
    # disables; on expiry the watchdog cancels the running Spark jobs /
    # interrupts the DuckDB connection and the query is booked as
    # status="capacity" with the phase that hit the wall.
    q_timeout = float(os.environ.get("SPARK_GRAFT_CHECK_TIMEOUT", "0") or 0)

    def _with_timeout(run, cancel, phase, name):
        """run() under the watchdog; returns (result, None) or
        (None, capacity-record)."""
        if not q_timeout:
            return run(), None
        import threading
        fired = threading.Event()

        def _kill():
            fired.set()
            try:
                cancel()
            except Exception:
                pass
        t = threading.Timer(q_timeout, _kill)
        t.start()
        try:
            out = run()
            return (None, {"status": "capacity", "phase": phase,
                           "timeout_sec": q_timeout}) if fired.is_set() \
                else (out, None)
        except Exception as ex:
            if fired.is_set():
                return None, {"status": "capacity", "phase": phase,
                              "timeout_sec": q_timeout}
            raise ex
        finally:
            t.cancel()

    for name, fn in qs.items():
        if only and name not in only:
            continue
        c0 = compiled_classes(spark)
        try:
            if sliced_mode and name in mods and mods[name] > 1:
                st = _check_sliced(spark, E, None, sf, name, fn,
                                   osql[name], mods[name], cross)
                records[name] = st
                if st["status"] == "pass_sliced":
                    n_pass += 1
                elif st["status"] == "invariants_only":
                    # invariants green, value compare over the capacity
                    # budget — ONE booking (capacity), so the four
                    # category counts always sum to the number of
                    # queries checked
                    n_capacity += 1
                else:
                    n_fail += 1
                continue
            t0 = time.time()
            try:
                sdf, cap = _with_timeout(
                    lambda: fn(spark, sf).toPandas(),
                    spark.sparkContext.cancelAllJobs, "spark", name)
                if cap:
                    print(f"CAP   {name}: spark exceeded {q_timeout:.0f}s")
                    records[name] = cap
                    n_capacity += 1
                    continue
            except Exception as ex:
                print(f"FAIL  {name}: spark error: {ex}")
                records[name] = {"status": "fail", "error": f"spark: {ex}"}
                n_fail += 1
                continue
            el = time.time() - t0
            if name not in osql:
                print(f"rows  {name}: {len(sdf)} rows ({el:.1f}s) [no oracle]")
                records[name] = {"status": "rows_only", "rows": len(sdf),
                                 "sec": round(el, 2)}
                n_rowsonly += 1
                continue
            try:
                con = _fresh_con()
                try:
                    odf, cap = _with_timeout(
                        lambda: con.execute(osql[name]).df(),
                        con.interrupt, "oracle", name)
                finally:
                    # close promptly: an open connection keeps its worker
                    # threads and any spilled/retained query memory — 7
                    # unclosed ones starved the process of threads at sf10
                    try:
                        con.close()
                    except Exception:
                        pass
                if cap:
                    print(f"CAP   {name}: oracle exceeded {q_timeout:.0f}s "
                          f"(engine side finished: {len(sdf)} rows)")
                    cap["rows"] = len(sdf)
                    records[name] = cap
                    n_capacity += 1
                    continue
            except Exception as ex:
                if "Out of Memory" in str(ex):
                    # DuckDB OOM is the same class as the timeout: the
                    # ORACLE exceeded local capacity, the engine finished
                    print(f"CAP   {name}: oracle out of memory "
                          f"(engine side finished: {len(sdf)} rows)")
                    records[name] = {"status": "capacity", "phase": "oracle",
                                     "error": "oracle OOM", "rows": len(sdf)}
                    n_capacity += 1
                    continue
                print(f"FAIL  {name}: oracle error: {ex}")
                records[name] = {"status": "fail", "error": f"oracle: {ex}"}
                n_fail += 1
                continue
            problems = []
            if sorted(sdf.columns) != sorted(odf.columns):
                problems.append(f"cols {sorted(sdf.columns)} vs "
                                f"{sorted(odf.columns)}")
            if len(sdf) != len(odf):
                problems.append(f"rows {len(sdf)} vs {len(odf)}")
            if not problems and canon(sdf) != canon(odf):
                problems.append("value hash mismatch")
            # Dtype-class guard (r7): an int-vs-float mismatch (e.g. an
            # uncast DuckDB sum(CASE) returning HUGEINT→float64 against
            # Spark's int64) passes THIS canonicalizing hash but fails a
            # repr-sensitive hasher — it red-flagged q9j/q9k/q9r in the
            # driver for two rounds. Treat as a FAILURE here so it can
            # never ship silently again.
            if not problems:
                def _dc(s):
                    if pd.api.types.is_float_dtype(s):
                        return "float"
                    if pd.api.types.is_integer_dtype(s):
                        return "int"
                    if pd.api.types.is_bool_dtype(s):
                        return "bool"
                    if pd.api.types.is_datetime64_any_dtype(s):
                        return "datetime"
                    return "object"
                mism = [f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}"
                        for c in sdf.columns if _dc(sdf[c]) != _dc(odf[c])]
                # (the r7 dtype-canary exemption is gone: the experiment
                # concluded and its oracle is now BIGINT-cast like every
                # other, so the canary is held to the same guard)
                if mism:
                    problems.append("dtype mismatch: " + "; ".join(mism))
            if problems:
                print(f"FAIL  {name}: {'; '.join(problems)}")
                records[name] = {"status": "fail", "rows": len(sdf),
                                 "problems": problems}
                n_fail += 1
            else:
                print(f"PASS  {name}: {len(sdf)} rows ({el:.1f}s)")
                records[name] = {"status": "pass", "rows": len(sdf),
                                 "sec": round(el, 2)}
                n_pass += 1
        finally:
            # generated classes the query compiled (0 when the
            # codegen cache served every one): the class census
            if name in records:
                records[name]["compiled"] = compiled_classes(spark) - c0

    # cross-consistency of the two sliced full-corpus runs: the q35
    # pair count must equal qa7's n_pairs at threshold 0.5 (both are
    # "pairs with jaccard >= 0.5", computed through different prune
    # thresholds and code paths)
    if "q35_full_rows" in cross and "qa7_np_050" in cross:
        if cross["q35_full_rows"] != cross["qa7_np_050"]:
            print(f"FAIL  cross-invariant: q35 full-corpus pair count "
                  f"{cross['q35_full_rows']} != qa7 n_pairs@0.5 "
                  f"{cross['qa7_np_050']}")
            n_fail += 1
        else:
            print(f"PASS  cross-invariant: q35 pairs == qa7 n_pairs@0.5 "
                  f"== {int(cross['q35_full_rows'])}")
    cap_note = f", {n_capacity} capacity" if n_capacity else ""
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, "
          f"{n_fail} fail{cap_note}")
    codegen = {
        "cache_max_entries": int(spark.conf.get(
            "spark.sql.codegen.cache.maxEntries")),
        "compiled": compiled_classes(spark) - compiled0,
        "metaspace_bytes_start": meta0,
        "metaspace_bytes_end": _metaspace_bytes(spark)}
    print(f"codegen: {codegen['compiled']} classes compiled "
          f"(cache {codegen['cache_max_entries']}), Metaspace "
          f"{meta0 / 2**20:.1f} -> "
          f"{codegen['metaspace_bytes_end'] / 2**20:.1f} MiB")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf, "sliced_oracle": sliced_mode,
                       "n_pass": n_pass, "n_rows_only": n_rowsonly,
                       "n_fail": n_fail, "n_capacity": n_capacity,
                       "codegen": codegen,
                       "queries": records}, fh, indent=1)
        print(f"wrote {json_out}")
    sys.exit(1 if n_fail else 0)


def _check_sliced(spark, E, _unused_con, sf, name, fn, sql, mod,
                  cross):
    """Bounded correctness for an oracle-infeasible rung query: full
    engine-vs-oracle compare on the doc_id % mod == 0 slice (identical
    restricted inputs on both sides) + structural invariants on the
    engine's full-corpus output."""
    sdir = _sliced_dir(sf, mod)
    scon = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sdir, f"{t}.parquet")
        if os.path.exists(p):
            scon.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    problems = []
    t0 = time.time()
    # slice-phase watchdog (r9 follow-up): the qa7 slice ORACLE ran
    # ~50 min at the sf10 rung while every other phase was capped —
    # interrupt DuckDB at the same budget and record capacity (the
    # full-corpus invariants still run; sf1 keeps the slice value
    # signal for this query).
    sl_timeout = float(os.environ.get("SPARK_GRAFT_CHECK_TIMEOUT", "0") or 0)
    sl_timer = None
    slice_cap = False
    if sl_timeout:
        import threading

        def _kill_slice():
            nonlocal slice_cap
            slice_cap = True
            try:
                scon.interrupt()
            except Exception:
                pass
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:
                pass
        sl_timer = threading.Timer(sl_timeout, _kill_slice)
        sl_timer.start()
    try:
        sdf = fn(spark, sdir).toPandas()
        odf = scon.execute(sql).df()
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"slice cols {sorted(sdf.columns)} vs "
                            f"{sorted(odf.columns)}")
        if len(sdf) != len(odf):
            problems.append(f"slice rows {len(sdf)} vs {len(odf)}")
        if not problems and canon(sdf) != canon(odf):
            problems.append("slice value hash mismatch")
        slice_rows = len(sdf)
    except Exception as ex:
        if slice_cap:
            slice_rows = None
        else:
            problems.append(f"slice error: {ex}")
            slice_rows = None
    finally:
        if sl_timer is not None:
            sl_timer.cancel()
        try:
            scon.close()
        except Exception:
            pass
    if slice_cap:
        # slice compare over budget: not a failure — fall through to the
        # full-corpus structural invariants and record the boundary
        problems = [p for p in problems
                    if not p.startswith("slice error")]
    t_slice = time.time() - t0
    t0 = time.time()
    # Full-corpus invariants run SPARK-SIDE as aggregates (r9): at sf10
    # the q37 pair table is ~10^10 rows — the r8-era toPandas here
    # OOM-killed the whole JVM and cascaded 52 connection-refused
    # failures.  Counts/bounds never leave the executors; only qa7's
    # curve (one row per threshold) is small enough to collect.
    full_note = None
    q_timeout = float(os.environ.get("SPARK_GRAFT_CHECK_TIMEOUT", "0") or 0)
    timer = None
    full_cap = False
    if q_timeout:
        import threading

        def _kill_full():
            nonlocal full_cap
            full_cap = True
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:
                pass
        timer = threading.Timer(q_timeout, _kill_full)
        timer.start()
    try:
        fdf = fn(spark, sf)
        if name == "qa7_dedup_rate_curve":
            full = fdf.toPandas()
            problems += _full_corpus_invariants(name, full)
            r = full[abs(full["threshold"] - 0.5) < 1e-9]
            if len(r) == 1:
                cross["qa7_np_050"] = int(r["n_pairs"].iloc[0])
            full_rows = len(full)
        else:
            probs, full_rows = _invariants_spark(name, fdf)
            problems += probs
            if name == "q35_ngram_jaccard":
                cross["q35_full_rows"] = full_rows
    except Exception as ex:
        # the slice compare is the value signal; a full-corpus pass
        # that exceeds local capacity is RECORDED, not failed — but
        # ONLY when the watchdog actually fired (same contract as
        # _with_timeout): a genuine error with no watchdog, or before
        # it fires, is a real regression and must FAIL the gate
        if full_cap:
            full_note = f"full-corpus capacity: {type(ex).__name__}"
            full_rows = None
        else:
            problems.append(f"full-corpus error: {ex}")
            full_rows = None
    finally:
        if timer is not None:
            timer.cancel()
    t_full = time.time() - t0
    if problems:
        print(f"FAIL  {name}: {'; '.join(problems)}")
        return {"status": "fail", "problems": problems,
                "slice_mod": mod}
    sl_note = (f"{slice_rows} slice rows" if not slice_cap
               else f"slice capacity at {sl_timeout:.0f}s")
    print(f"PASS* {name}: sliced-oracle green ({sl_note} "
          f"{t_slice:.1f}s; full {full_rows} rows {t_full:.1f}s, "
          f"{'invariants ok' if full_note is None else full_note})")
    rec = {"status": ("pass_sliced" if not slice_cap
                      else "invariants_only"),
           "slice_mod": mod,
           "slice_rows": slice_rows, "rows": full_rows,
           "sec": round(t_slice + t_full, 2)}
    if slice_cap:
        rec["slice"] = f"capacity at {sl_timeout:.0f}s"
    if full_note:
        rec["full_corpus"] = full_note
    return rec


def _invariants_spark(name: str, fdf) -> tuple[list[str], int]:
    """Distributed full-corpus invariants: one aggregate over the pair
    table (plus one distinct-count), nothing collected but scalars."""
    from pyspark.sql import functions as F
    probs: list[str] = []
    if name in ("q35_ngram_jaccard", "q36_minhash_lsh"):
        agg = fdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("bad"),
            F.min("jaccard").alias("lo"), F.max("jaccard").alias("hi"),
            F.count_distinct("id_a", "id_b").alias("nd")).collect()[0]
        if (agg["bad"] or 0) > 0:
            probs.append("pair not canonicalized: some id_a >= id_b")
        if agg["n"] != agg["nd"]:
            probs.append("duplicate (id_a, id_b) pairs")
        if agg["n"] and not (0.5 - 1e-9 <= agg["lo"] and
                             agg["hi"] <= 1.0 + 1e-9):
            probs.append("jaccard outside [threshold, 1]")
        return probs, int(agg["n"])
    if name == "q37_simhash":
        agg = fdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("bad"),
            F.min("hamming").alias("lo"), F.max("hamming").alias("hi"),
            F.count_distinct("id_a", "id_b").alias("nd")).collect()[0]
        if (agg["bad"] or 0) > 0:
            probs.append("pair not canonicalized: some id_a >= id_b")
        if agg["n"] != agg["nd"]:
            probs.append("duplicate (id_a, id_b) pairs")
        if agg["n"] and not (0 <= agg["lo"] and agg["hi"] <= 3):
            probs.append("hamming outside [0, max_hamming]")
        return probs, int(agg["n"])
    # unknown sliced query: row count only
    return probs, int(fdf.count())


if __name__ == "__main__":
    main()
