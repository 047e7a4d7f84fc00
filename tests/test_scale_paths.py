"""Scale-path machinery: salted joins, bucketed no-shuffle joins, IVF.

These verify the 100 TB design levers actually engage: identical results
from the salted join, zero Exchange in the bucketed join plan.
"""

import pandas as pd
from pyspark.sql import functions as F

import juliadb_jl_spark as jdb
from juliadb_jl_spark.operators.join import salted_join
from juliadb_jl_spark.sources.parquet import load_table, save_bucketed


def _norm(pdf):
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, ignore_index=True)


def test_salted_join_same_result(tables):
    o = jdb.table(tables["orders"].df.select("o_orderkey", "o_custkey"))
    c = jdb.table(tables["customer"].df.select("c_custkey", "c_name")
                  .withColumnRenamed("c_custkey", "o_custkey"))
    plain = jdb.table(o.df).df.join(c.df, "o_custkey").toPandas()
    salted = salted_join(o, c, on="o_custkey", salt=8).collect()
    pd.testing.assert_frame_equal(_norm(plain), _norm(salted))


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); dropped in the finally block
    o = jdb.table(tables["orders"].df.select("o_orderkey", "o_custkey",
                                             "o_totalprice"))
    c = jdb.table(tables["customer"].df.select("c_custkey", "c_name"))
    save_bucketed(o, "orders_b", 4, by="o_custkey")
    save_bucketed(jdb.rename(c, c_custkey="o_custkey"), "cust_b", 4,
                  by="o_custkey")
    ob, cb = load_table("orders_b"), load_table("cust_b")
    # disable broadcast so the co-located (bucketed) path is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.df.join(cb.df, "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 15000 or joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_ivf_fast_and_correct(tables):
    from juliadb_jl_spark.functions import similarity as SIM
    import time
    emb = tables["embeddings"].df
    queries = emb.filter(F.col("vec_id") < 5)
    t0 = time.time()
    tagged, cents = SIM.ivf_build(emb, n_cells=8)
    ann = SIM.ivf_topk(tagged, cents, queries, k=5, nprobe=3).toPandas()
    elapsed = time.time() - t0
    assert len(ann) == 25
    assert elapsed < 30
    exact = SIM.cosine_topk(emb, queries, k=5).toPandas()
    hits = sum(len(set(ann[ann["query_id"] == q]["neighbor_id"]) &
                   set(exact[exact["query_id"] == q]["neighbor_id"]))
               for q in range(5))
    assert hits / 25 >= 0.5


def test_ivf_centroid_init_deterministic(tables):
    # seeded hash-sample init (VERDICT r2 minor #5): same centroids across
    # partition layouts (up to float summation order in the Lloyd steps)
    import numpy as np
    from juliadb_jl_spark.functions import similarity as SIM
    emb = tables["embeddings"].df
    _, c1 = SIM.ivf_build(emb, n_cells=4)
    _, c2 = SIM.ivf_build(emb.repartition(13), n_cells=4)
    assert np.allclose(np.array(c1), np.array(c2), rtol=1e-9)


def test_ivf_save_load_partition_pruning(spark, tables, tmp_path):
    from juliadb_jl_spark.functions import similarity as SIM
    emb = tables["embeddings"].df
    tagged, cents = SIM.ivf_build(emb, n_cells=4)
    path = str(tmp_path / "ivf")
    SIM.ivf_save(tagged, cents, path)
    corpus, cents2 = SIM.ivf_load(spark, path)
    assert cents2 == cents
    # probing one cell must prune partitions at the scan
    one = corpus.filter(F.col("cell") == 0)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert one.count() + corpus.filter(F.col("cell") != 0).count() == 500
    # end-to-end ANN over the reloaded index
    q = emb.filter(F.col("vec_id") < 3)
    ann = SIM.ivf_topk(corpus, cents2, q, k=5, nprobe=2).toPandas()
    assert len(ann) == 15


def test_streaming_dedup(spark, tmp_path):
    import pandas as pd
    from juliadb_jl_spark.streaming import aggregate as SA
    b1 = pd.DataFrame({"k": [1, 2, 1], "ts": pd.to_datetime(
        ["2024-01-01 10:00"] * 3), "v": [1.0, 2.0, 3.0]})
    b2 = pd.DataFrame({"k": [2, 3], "ts": pd.to_datetime(
        ["2024-01-01 10:30"] * 2), "v": [4.0, 5.0]})
    src = str(tmp_path / "dd")
    spark.createDataFrame(b1).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(src + "/b2")
    stream = (spark.readStream.schema("k long, ts timestamp, v double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    dd = SA.streaming_dedup(stream, "k", ts_col="ts", watermark="2 hours")
    q = (dd.writeStream.outputMode("append").format("memory")
         .queryName("dd_out").start())
    q.processAllAvailable()
    q.stop()
    res = spark.sql("SELECT * FROM dd_out").toPandas()
    assert sorted(res["k"]) == [1, 2, 3]  # each key exactly once across triggers


def test_range_join_vs_cross(spark, tables):
    from juliadb_jl_spark.operators.join import range_join
    ev = tables["events"].df.limit(300)
    # unix_micros, not cast("double"): the testdata's ts is TIMESTAMP_NTZ,
    # which Spark refuses to cast to double directly
    t_sec = (F.unix_micros(F.col("ts")) / F.lit(1e6))
    clicks = jdb.table(ev.filter(F.col("event_type") == "click")
                       .select("user_id", t_sec.alias("t"), "event_id"))
    buys = jdb.table(ev.filter(F.col("event_type") == "purchase")
                     .select("user_id", t_sec.alias("bt"),
                             F.col("event_id").alias("bid")))
    # purchases within 24h AFTER a click: 0 <= bt - t... we want l=click
    # diff = t - bt in [-86400, 0]
    got = range_join(clicks, buys, on="user_id", l_col="t", r_col="bt",
                     lower=-86400.0, upper=0.0).df.toPandas()
    # cross-join oracle
    cj = clicks.df.join(buys.df.withColumnRenamed("user_id", "u2"),
                        F.col("user_id") == F.col("u2")) \
        .filter((F.col("t") - F.col("bt") >= -86400) & (F.col("t") - F.col("bt") <= 0)) \
        .toPandas()
    assert len(got) == len(cj)
    key = lambda d: sorted(zip(d["event_id"], d["bid"]))
    assert key(got) == key(cj)


def test_salted_join_rejects_right_preserving():
    import pytest
    with pytest.raises(ValueError, match="salt bucket"):
        salted_join(None, None, on="k", how="outer")


def test_bloom_semi_join_exact_and_pruning(tables):
    # exact=True must equal a plain left_semi join (false positives
    # removed); the Bloom pre-filter itself must prune non-matching rows
    from juliadb_jl_spark.operators.join import bloom_semi_join
    o = jdb.table(tables["orders"].df.select("o_orderkey", "o_custkey"))
    keys = jdb.table(tables["customer"].df
                     .filter(F.col("c_acctbal") > 9000)
                     .select(F.col("c_custkey").alias("o_custkey")))
    got = bloom_semi_join(o, keys, on="o_custkey").collect()
    want = (o.df.join(keys.df, "o_custkey", "left_semi")).toPandas()
    pd.testing.assert_frame_equal(_norm(got), _norm(want))
    # pure pre-filter (exact=False): superset of the true result, but far
    # smaller than the probe side — the 100-TB point of the operator
    pruned = bloom_semi_join(o, keys, on="o_custkey", exact=False).collect()
    assert len(want) <= len(pruned) < o.df.count()


def test_global_numbering_offsets_ride_broadcast_join(spark):
    # VERDICT r2 #1: the per-partition offsets must NOT be literalized into
    # the expression tree (a create_map with 2 entries per partition is a
    # multi-MB plan at 100-TB partition counts); they ride a tiny
    # broadcast-joined DataFrame instead, so plan size is O(1) in the
    # partition count.
    from juliadb_jl_spark.operators.sort import (with_global_cumsum,
                                                 with_global_rownum)
    df = spark.range(0, 20000).repartition(1024)
    rn = with_global_rownum(df, "__rn")
    analyzed = rn._jdf.queryExecution().analyzed().toString()
    assert "create_map" not in analyzed and "map(" not in analyzed
    phys = rn._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys or "BroadcastExchange" in phys, phys
    # plan stays small even at 1024 partitions (literal version was ~2
    # entries/partition)
    assert len(analyzed) < 20_000
    assert sorted(r["__rn"] for r in rn.collect()) == list(range(1, 20001))

    cs = with_global_cumsum(df.withColumn("v", F.lit(2)), "v", "__cum",
                            order=["id"])
    analyzed = cs._jdf.queryExecution().analyzed().toString()
    assert "create_map" not in analyzed
    rows = {r["id"]: r["__cum"] for r in cs.collect()}
    assert rows[0] == 0 and rows[19999] == 2 * 19999


def test_global_cumsum_integer_exact_past_2_53(spark):
    # integral value columns must stay in integer arithmetic end-to-end:
    # the old float offset accumulator rounded 2^53 + 1 back to 2^53, so
    # a corpus-scale token cumsum silently drifted after ~9e15 total.
    from juliadb_jl_spark.operators.sort import with_global_cumsum
    big = 1 << 53
    df = (spark.createDataFrame([(0, big), (1, 1), (2, 1)], "id long, v long")
          .repartitionByRange(3, "id"))
    cs = with_global_cumsum(df, "v", "__cum", order=["id"])
    got = {r["id"]: r["__cum"] for r in cs.collect()}
    assert got == {0: 0, 1: big, 2: big + 1}  # float path gives big twice
    # fractional columns still take the double path and work
    dfd = spark.createDataFrame([(0, 0.5), (1, 0.25)], "id long, v double")
    csd = with_global_cumsum(dfd, "v", "__cumd", order=["id"])
    # __cumd is cast long; just assert it computes without type errors
    assert csd.count() == 2
    jdb.release_scratch(blocking=True)


def test_global_rownum_pid_stability_under_aqe(spark):
    # sf1 sweep regression (q25 returned 3x the requested rows): the
    # helper's counts and numbering jobs re-evaluated the caller's
    # repartitionByRange lineage, and AQE may coalesce that shuffle
    # differently per job (runtime stats differ), shifting
    # spark_partition_id between passes so the offsets join against pids
    # that no longer exist. The pid-stamped frame must be persisted so
    # one materialized partitioning serves both passes.
    from juliadb_jl_spark.operators.sort import with_global_rownum
    jdb.release_scratch(blocking=True)
    df = (spark.range(0, 50000)
          .select(F.col("id").alias("k"))
          .repartitionByRange(F.col("k"))   # AQE-coalescible shuffle
          .sortWithinPartitions("k"))
    rn = with_global_rownum(df, "__rn")
    got = rn.orderBy("k").select("__rn").toPandas()["__rn"].tolist()
    assert got == list(range(1, 50001))
    # slice like subtable does: exactly the requested width, no dups
    assert rn.filter(F.col("__rn").between(100, 200)).count() == 101
    # the stability persist is scratch-registered for long-lived sessions
    assert jdb.release_scratch(blocking=True) >= 1


def test_bloom_semi_join_empty_filter(tables, spark):
    from juliadb_jl_spark.operators.join import bloom_semi_join
    o = jdb.table(tables["orders"].df.select("o_orderkey", "o_custkey"))
    none = jdb.table(tables["customer"].df
                     .filter(F.lit(False))
                     .select(F.col("c_custkey").alias("o_custkey")))
    assert len(bloom_semi_join(o, none, on="o_custkey").collect()) == 0


def test_unique_lift_triangle_big_cluster(spark):
    """A clique past the BIG threshold (1024) takes the triangle-bucketed
    intra path; its pair set must be exactly the plain path's (count +
    order-insensitive pair-hash checksum — no 600k-row driver transfer)."""
    from juliadb_jl_spark.functions import dedup as DD
    rows = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit")
            for i in range(1100)]  # one 1100-member exact-dup clique
    rows += [(5000 + i, f"unique filler doc {i} alpha beta gamma {i * 13}")
             for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sig(pairs):
        r = pairs.agg(F.count(F.lit(1)).alias("n"),
                      F.bit_xor(F.xxhash64("id_a", "id_b")).alias("h")).head()
        return r["n"], r["h"]

    lifted = sig(DD.ngram_jaccard_pairs(df, "doc_id", threshold=0.5,
                                        unique_lift=True))
    direct = sig(DD.ngram_jaccard_pairs(df, "doc_id", threshold=0.5,
                                        unique_lift=False))
    assert lifted == direct
    assert lifted[0] == 1100 * 1099 // 2  # clique pairs; uniques pair nowhere


def test_q17_window_rewrite_single_scan_single_exchange(spark):
    """The Q17-shaped correlated-average query (q9z) must scan lineitem
    ONCE and cross exactly one partkey exchange: the window rewrite of
    the correlated scalar subquery, not the agg+self-join form that
    duplicates the scan."""
    import __spark_entry__ as E
    df = E.queries()["q9z_small_quantity_revenue"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem") == 1          # one scan subtree
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert len(shuffles) == 1 and "l_partkey" in shuffles[0]


# ---------------------------------------------------------------------------
# _spread skip/engage rules (r7 redesign — ADVICE r6)
# ---------------------------------------------------------------------------

def test_spread_rules(spark, tables):
    from juliadb_jl_spark.functions.dedup import _spread
    p = spark.sparkContext.defaultParallelism

    # small single-file scan: per-doc Python work needs the spread
    docs = tables["documents"].df
    spread = _spread(docs)
    assert spread.rdd.getNumPartitions() == p

    # an upstream explicit repartition (a prior _spread in a composed
    # op) must NOT be re-exchanged — the r7 q9j double-exchange catch
    again = _spread(spread.select("doc_id", F.upper("text").alias("t")))
    plan = again._jdf.queryExecution().analyzed().toString()
    assert plan.count("Repartition") == 1, plan

    # non-scan input (createDataFrame): always repartition — the spread
    # guarantee for post-shuffle/skewed inputs (ADVICE r6)
    local = spark.createDataFrame([(i,) for i in range(100)], ["x"])
    assert _spread(local).rdd.getNumPartitions() == p


def test_document_ops_never_touch_rdd_on_plan_path(spark, tables,
                                                   monkeypatch):
    """Planning-cost regression (VERDICT r7 #8): pre-r7 `_spread` called
    `rdd.getNumPartitions()`, which forces a SECOND full physical
    planning per document-op call (and lies downstream of a shuffle).
    Guard the whole class: poison `DataFrame.rdd` and build every heavy
    document-op plan through analysis — any helper that sneaks a
    `.rdd` back onto the plan path fails loudly here."""
    from pyspark.sql import DataFrame as _DF
    from juliadb_jl_spark.functions import curation as CU
    from juliadb_jl_spark.functions import dedup as DD
    from juliadb_jl_spark.functions import text as TX

    docs = tables["documents"].df

    def _poisoned(self):
        raise AssertionError(
            ".rdd accessed on a document-op plan path — this forces a "
            "second physical planning per call (the ADVICE r6 class)")

    monkeypatch.setattr(_DF, "rdd", property(_poisoned))
    plans = [
        DD._spread(docs),
        CU.paragraph_dedup(docs, "doc_id", "text"),
        CU.novelty_scores(docs, "doc_id", "text"),
        CU._split_leakage(docs.withColumn(
            "split", F.when(F.col("doc_id") % 5 == 0, "eval")
            .otherwise("train")), "doc_id", "text", "split", "train", 5,
            "shuffle"),      # the shuffle tier — plan-only past sizing
        TX.frequent_phrases(docs, n=3, min_count=2),
        DD.dedup_exact(docs, "doc_id", "text"),
        DD.minhash_signature(docs, "doc_id", "text"),
        DD.duplicate_spans(docs, "doc_id", "text", k=15),
    ]
    for df in plans:
        # force full analysis (what queries() construction does); the
        # poisoned property would fire if any plan path touched .rdd
        df._jdf.queryExecution().analyzed()
        assert len(df.columns) > 0


def test_default_driver_heap_fits_the_host(monkeypatch):
    """With SPARK_GRAFT_DRIVER_MEM unset the driver heap is 16g capped
    at half the physical RAM: a 15 GiB host gets 7680m, a 64 GiB host
    16384m, and a host whose RAM cannot be read keeps 16g."""
    import os

    from juliadb_jl_spark import session
    page = 4096

    def fake(gib):
        vals = {"SC_PAGE_SIZE": page,
                "SC_PHYS_PAGES": gib * (1 << 30) // page}
        return lambda name: vals[name]

    monkeypatch.setattr(os, "sysconf", fake(15))
    assert session._default_driver_mem() == "7680m"
    monkeypatch.setattr(os, "sysconf", fake(64))
    assert session._default_driver_mem() == "16384m"
    monkeypatch.setattr(os, "sysconf", fake(0))
    assert session._default_driver_mem() == "512m"

    def broken(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", broken)
    assert session._default_driver_mem() == "16g"


# Contract queries whose generated code is the same on every run of the
# query (q9g and q9y are left out: their second run in a session generates
# a few classes the first did not).  One pass generates well over 100
# classes, Spark's default codegen cache size.
_SESSION_QUERIES = [
    "q01_pricing_summary", "q03_map_compute", "q05_join_inner",
    "q06_join_left", "q07_join_outer", "q09_broadcast_3way",
    "q11_asofjoin", "q14_groupby_median", "q17_hist", "q21_window_rank",
    "q22_window_lag", "q23_group_normalize", "q24_topk_global",
    "q26_distinct", "q29_stack", "q32_tumbling_window", "q33_sessionize",
    "q99_shipping_priority", "qaf_nation_volume", "qam_min_cost_supplier",
]


def test_codegen_cache_holds_a_session_working_set(spark):
    """A second pass over a session's queries compiles no generated
    class: the codegen cache holds the whole working set.  With Spark's
    100-entry default the LRU cache evicts every class of the pass
    before it is reused, and the second pass recompiles all of them."""
    import __spark_entry__ as E

    from juliadb_jl_spark.plans.diagnostics import compiled_classes
    from tests.conftest import SF_DIR
    qs = E.queries()

    def one_pass():
        c0 = compiled_classes(spark)
        for name in _SESSION_QUERIES:
            qs[name](spark, SF_DIR).toPandas()
        return compiled_classes(spark) - c0

    one_pass()
    assert one_pass() == 0
