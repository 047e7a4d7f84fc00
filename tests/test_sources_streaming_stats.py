"""CSV schema union, stateful streaming, Mosaic/Partition stats.

Mirrors reference tests test/test_readwrite.jl:61-107 (multi-file loads,
missing/renamed columns across files) and the OnlineStats plotting stats
(docs/src/plotting.md).
"""

import os

import pandas as pd
from pyspark.sql import functions as F

import juliadb_jl_spark as jdb
from juliadb_jl_spark.functions import stats as ST
from juliadb_jl_spark.streaming import aggregate as SA


def test_csv_missing_columns_union(spark, tmp_path):
    # reference fixture shape: t1.csv (a,x), t2.csv (a,y) →
    # union with missing columns null-filled (test_readwrite.jl:62-68)
    (tmp_path / "t1.csv").write_text("a,x\n1,10\n2,20\n")
    (tmp_path / "t2.csv").write_text("a,y\n3,30\n4,40\n")
    t = jdb.loadtable([str(tmp_path / "t1.csv"), str(tmp_path / "t2.csv")],
                      spark=spark, pkey="a")
    got = t.collect()
    assert sorted(got.columns) == ["a", "x", "y"]
    assert len(got) == 4
    assert pd.isna(got[got["a"] == 3]["x"]).all()
    assert got[got["a"] == 1]["x"].iloc[0] == 10


def test_csv_filenamecol(spark, tmp_path):
    (tmp_path / "f1.csv").write_text("a\n1\n")
    (tmp_path / "f2.csv").write_text("a\n2\n")
    t = jdb.loadtable(str(tmp_path / "*.csv"), spark=spark, filenamecol="src")
    got = t.collect()
    assert len(got) == 2
    assert all(s.endswith(".csv") for s in got["src"])


def test_csv_skiplines_begin(spark, tmp_path):
    # reference skiplines_begin (src/io.jl:58): preamble lines dropped
    # before the header is parsed
    (tmp_path / "p1.csv").write_text("# preamble\n# more\na,x\n1,10\n2,20\n")
    (tmp_path / "p2.csv").write_text("junk line\nanother\na,x\n3,30\n")
    t = jdb.loadtable([str(tmp_path / "p1.csv"), str(tmp_path / "p2.csv")],
                      spark=spark, skiplines_begin=2)
    got = t.collect()
    assert sorted(got.columns) == ["a", "x"]
    assert sorted(got["a"]) == [1, 2, 3]
    assert sorted(got["x"]) == [10, 20, 30]


def test_csv_multiple_nastrings(spark, tmp_path):
    # reference nastrings (src/io.jl:57): EVERY listed string becomes null,
    # not just the first (post-read null-out for the rest)
    (tmp_path / "na.csv").write_text("a,s\n1,ok\n2,NA\n3,null\n4,-\n")
    t = jdb.loadtable(str(tmp_path / "na.csv"), spark=spark,
                      nastrings=["NA", "null", "-"])
    got = t.collect()
    assert got["s"].notna().sum() == 1
    assert got[got["a"] == 1]["s"].iloc[0] == "ok"


def test_csv_samecols(spark, tmp_path):
    # reference samecols (src/io.jl:55): differently-named columns treated
    # as one ('vendor_id' and 'VendorID'); first name in the group wins
    (tmp_path / "v1.csv").write_text("vendor_id,x\n1,10\n")
    (tmp_path / "v2.csv").write_text("VendorID,x\n2,20\n")
    t = jdb.loadtable([str(tmp_path / "v1.csv"), str(tmp_path / "v2.csv")],
                      spark=spark, samecols=[("vendor_id", "VendorID")])
    got = t.collect()
    assert sorted(got.columns) == ["vendor_id", "x"]
    assert sorted(got["vendor_id"]) == [1, 2]


def test_loadndsparse_implicit_row_index(spark, tmp_path):
    # reference implicit 1:n index when indexcols omitted
    # (src/io.jl:151-154, src/util.jl:121-123)
    (tmp_path / "d1.csv").write_text("x,y\n10,1\n20,2\n")
    (tmp_path / "d2.csv").write_text("x,y\n30,3\n")
    nd = jdb.loadndsparse([str(tmp_path / "d1.csv"), str(tmp_path / "d2.csv")],
                          spark=spark)
    got = nd.collect()
    assert nd.pkey == ("row",)
    assert sorted(got["row"]) == [1, 2, 3]          # contiguous 1:n
    assert sorted(got["x"]) == [10, 20, 30]


def test_mosaic(tables):
    m = ST.mosaic(tables["lineitem"].df, "l_returnflag", "l_linestatus").toPandas()
    assert set(m.columns) == {"l_returnflag", "F", "O"}
    assert m[["F", "O"]].to_numpy().sum() == tables["lineitem"].count()


def test_partition_stat(tables):
    p = ST.partition_stat(tables["lineitem"].df, "l_quantity",
                          "l_extendedprice", nbins=5).toPandas()
    assert len(p) == 5
    assert p["n"].sum() == tables["lineitem"].count()


def test_stateful_running_reduce(spark, tmp_path):
    pdf1 = pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 10.0]})
    pdf2 = pd.DataFrame({"k": [1, 2], "v": [4.0, 20.0]})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf1).write.parquet(src + "/b1")
    spark.createDataFrame(pdf2).write.parquet(src + "/b2")
    schema = "k long, v double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    out = SA.running_reduce_stream(stream, "k", "v")
    q = (out.writeStream.outputMode("update")
         .format("memory").queryName("runred").start())
    q.processAllAvailable()
    q.stop()
    res = spark.sql("SELECT * FROM runred").toPandas()
    # final state per key must reflect all batches
    last = res.groupby("k").last()
    assert last.loc[1, "n"] == 3 and abs(last.loc[1, "total"] - 7.0) < 1e-9
    assert last.loc[2, "n"] == 2 and last.loc[2, "vmax"] == 20.0


def test_session_agg_batch(tables):
    ev = tables["events"].df
    out = SA.session_agg(ev, "ts", "user_id", {"n": "count"},
                         gap="1 hour", select="value").toPandas()
    assert out["n"].sum() == 1000
    assert (out["session_end"] > out["session_start"]).all()


def test_tracktime_diagnostics(spark, tables):
    jdb.reset_timings()
    with jdb.tracktime("count-orders", spark):
        tables["orders"].df.count()
    for _ in range(2):
        with jdb.tracktime("agg-lineitem", spark):
            tables["lineitem"].df.groupBy("l_returnflag").count().collect()
    t = jdb.timings()
    assert list(t["label"]) == ["count-orders", "agg-lineitem",
                                "agg-lineitem"]
    assert (t["seconds"] > 0).all()
    assert (t["n_jobs"] >= 1).all()
    # the repeated block finds every generated class in the codegen cache
    assert (t["n_compiled"] >= 0).all()
    assert t["n_compiled"].iloc[2] == 0


def test_innerjoin_alias(tables):
    o = jdb.table(tables["orders"].df)
    c = jdb.table(tables["customer"].df)
    out = jdb.innerjoin(o, c, lkey="o_custkey", rkey="c_custkey")
    assert out.count() == tables["orders"].count()


def test_csv_output_append_ingest(spark, tmp_path):
    # reference out-of-core ingest with append (src/io.jl:134-142)
    (tmp_path / "a.csv").write_text("k,v\n1,10\n")
    (tmp_path / "b.csv").write_text("k,v\n2,20\n")
    out = str(tmp_path / "ingested")
    t1 = jdb.loadtable(str(tmp_path / "a.csv"), spark=spark, pkey="k",
                       output=out)
    assert t1.count() == 1 and t1.pkey == ("k",)
    t2 = jdb.loadtable(str(tmp_path / "b.csv"), spark=spark, pkey="k",
                       output=out, append=True)
    assert t2.count() == 2
    assert sorted(t2.collect()["k"]) == [1, 2]


def test_partitionplot_forms(tables):
    # two-arg: per-by x-sections; one-arg: row-position sections
    li = tables["lineitem"].df
    two = ST.partitionplot(li, "l_quantity", "l_extendedprice",
                           stat="extrema", nparts=5, by="l_returnflag") \
        .toPandas()
    assert set(two.columns) == {"l_returnflag", "part", "n",
                                "l_quantity_min", "l_quantity_max",
                                "l_extendedprice_min", "l_extendedprice_max"}
    assert two.groupby("l_returnflag")["n"].sum().sum() == li.count()
    assert two["part"].between(0, 4).all()
    one = ST.partitionplot(li.limit(100), "l_extendedprice",
                           stat="mean", nparts=4).toPandas()
    assert one["n"].sum() == 100 and len(one) == 4


def test_ingest_aliases_and_csvread(spark, tmp_path):
    (tmp_path / "a.csv").write_text("k,v\n1,10\n2,20\n")
    (tmp_path / "b.csv").write_text("k,v\n3,30\n")
    store = str(tmp_path / "store")
    t = jdb.ingest(str(tmp_path / "a.csv"), store, spark=spark, pkey="k")
    assert len(t.collect()) == 2
    t2 = jdb.ingest_(str(tmp_path / "b.csv"), store, spark=spark, pkey="k")
    assert sorted(t2.collect()["k"]) == [1, 2, 3]
    c = jdb.csvread(str(tmp_path / "a.csv"), spark=spark)
    assert sorted(c.collect()["v"]) == [10, 20]


def test_csv_dateformat_option(spark, tmp_path):
    (tmp_path / "d.csv").write_text("d,v\n2024/01/31,1\n2024/02/29,2\n")
    import pyspark.sql.types as T
    sch = T.StructType([T.StructField("d", T.DateType()),
                        T.StructField("v", T.IntegerType())])
    t = jdb.loadtable(str(tmp_path / "d.csv"), spark=spark,
                      schema=sch, dateformat="yyyy/MM/dd")
    got = t.collect()
    assert str(sorted(got["d"])[0]) == "2024-01-31"


def test_aggregate_stats_deprecated_alias(tables):
    import warnings
    li = tables["lineitem"]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = jdb.aggregate_stats("mean", li, by="l_returnflag",
                                  with_="l_quantity").collect()
    assert any(issubclass(x.category, DeprecationWarning) for x in w)
    assert len(out) == 3


def test_jdbc_roundtrip_and_partitioned_read(spark, tables, tmp_path):
    # real JDBC against the Derby driver bundled with Spark: write a
    # table out, read it back plain AND as a partitioned (parallel) read
    from juliadb_jl_spark.sources.jdbc import load_jdbc, save_jdbc
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    o = jdb.table(tables["orders"].df
                  .select("o_orderkey", "o_custkey", "o_totalprice").limit(500))
    save_jdbc(o, url, "ORDERS_J", mode="overwrite", driver=drv)
    back = load_jdbc(url, "ORDERS_J", spark=spark, driver=drv, pkey="o_orderkey")
    assert back.count() == 500
    part = load_jdbc(url, "ORDERS_J", spark=spark, driver=drv,
                     partition_column="o_orderkey", num_partitions=4,
                     lower_bound=0, upper_bound=100000)
    assert part.df.rdd.getNumPartitions() == 4      # parallel range reads
    assert part.count() == 500
    got = sorted(back.collect()["o_orderkey"])
    want = sorted(o.collect()["o_orderkey"])
    assert got == want


def test_stream_stream_join(spark, tmp_path):
    # clicks joined to purchases within the preceding hour, per user —
    # streaming with watermark-bounded state, then the identical code path
    # on batch frames as the oracle
    from juliadb_jl_spark.streaming.aggregate import stream_join
    clicks = pd.DataFrame({
        "user": [1, 1, 2],
        "cts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 12:00",
                               "2024-01-01 10:30"]),
        "cid": [10, 11, 12]})
    buys = pd.DataFrame({
        "user": [1, 2],
        "bts": pd.to_datetime(["2024-01-01 09:30", "2024-01-01 10:00"]),
        "amt": [5.0, 7.0]})
    src = str(tmp_path / "ss")
    spark.createDataFrame(clicks).coalesce(1).write.parquet(src + "/c")
    spark.createDataFrame(buys).coalesce(1).write.parquet(src + "/b")
    cs = (spark.readStream.schema("user long, cts timestamp, cid long")
          .parquet(src + "/c"))
    bs = (spark.readStream.schema("user long, bts timestamp, amt double")
          .parquet(src + "/b"))
    out = stream_join(cs, bs, "user", "cts", "bts", within="1 hour")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("ssj").start())
    q.processAllAvailable()
    q.stop()
    res = spark.sql("SELECT * FROM ssj").toPandas()
    # click 10 (10:00) matches buy 09:30; click 12 (10:30) matches 10:00;
    # click 11 (12:00) matches nothing within the hour
    assert sorted(zip(res["cid"], res["amt"])) == [(10, 5.0), (12, 7.0)]
    # batch equivalence through the same helper
    bout = stream_join(spark.createDataFrame(clicks),
                       spark.createDataFrame(buys),
                       "user", "cts", "bts", within="1 hour").toPandas()
    assert sorted(zip(bout["cid"], bout["amt"])) == [(10, 5.0), (12, 7.0)]


def test_save_zstd_and_file_caps(spark, tmp_path):
    import os
    import juliadb_jl_spark as jdb
    t = jdb.table(spark.range(1000).withColumnRenamed("id", "k"), pkey="k")
    path = str(tmp_path / "zstd_out")
    jdb.save(t, path, compression="zstd", max_records_per_file=100)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    import pyarrow.parquet as pq
    assert all(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows <= 100
               for f in files)
    back = jdb.load(path, spark)
    assert back.df.count() == 1000 and back.pkey == ("k",)


# ---------------------------------------------------------------------------
# JSONL source (sources/json.py)
# ---------------------------------------------------------------------------


def _write_jsonl(path, lines):
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_loadjsonl_roundtrip_and_schema_union(spark, tmp_path):
    import juliadb_jl_spark as jdb
    a = _write_jsonl(tmp_path / "a.jsonl",
                     ['{"id": 1, "text": "hello", "lang": "en"}',
                      '{"id": 2, "text": "welt", "lang": "de"}'])
    b = _write_jsonl(tmp_path / "b.jsonl",
                     ['{"id": 3, "text": "third", "score": 0.5}'])
    t = jdb.loadjsonl([a, b], spark, pkey="id")
    rows = {r["id"]: r for r in t.df.collect()}
    assert len(rows) == 3
    # schema union: missing fields are null on either side
    assert rows[1]["score"] is None and rows[3]["lang"] is None
    assert t.pkey == ("id",)
    # save_jsonl → loadjsonl roundtrip preserves rows
    out = str(tmp_path / "out")
    jdb.save_jsonl(t, out)
    back = jdb.loadjsonl(out + "/*.json", spark)
    assert back.df.count() == 3


def test_loadjsonl_glob_dir_filenamecol(spark, tmp_path):
    import juliadb_jl_spark as jdb
    d = tmp_path / "crawl"
    d.mkdir()
    _write_jsonl(d / "part1.jsonl", ['{"id": 1}'])
    _write_jsonl(d / "part2.jsonl", ['{"id": 2}'])
    t = jdb.loadjsonl(str(d / "*.jsonl"), spark, filenamecol="src_file")
    rows = t.df.collect()
    assert len(rows) == 2
    assert all(r["src_file"].endswith(".jsonl") for r in rows)
    assert len({r["src_file"] for r in rows}) == 2


def test_loadjsonl_corrupt_modes(spark, tmp_path):
    import pytest as _pytest

    import juliadb_jl_spark as jdb
    p = _write_jsonl(tmp_path / "bad.jsonl",
                     ['{"id": 1}', 'NOT JSON {{{', '{"id": 3}'])
    dropped = jdb.loadjsonl(p, spark, drop_corrupt=True)
    assert {r["id"] for r in dropped.df.collect()} == {1, 3}
    kept = jdb.loadjsonl(p, spark, corrupt_col="_bad")
    rows = kept.df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and bad[0]["_bad"].startswith("NOT JSON")
    # a clean file still exposes the declared audit column
    clean = _write_jsonl(tmp_path / "clean.jsonl", ['{"id": 9}'])
    ct = jdb.loadjsonl(clean, spark, corrupt_col="_bad")
    assert ct.df.columns[-1] == "_bad"
    assert ct.df.head()["_bad"] is None
    with _pytest.raises(ValueError):
        jdb.loadjsonl(p, spark, drop_corrupt=True, corrupt_col="_bad")


def test_loadjsonl_explicit_schema_captures_corrupt(spark, tmp_path):
    # schema= together with corrupt_col= must still capture bad lines:
    # the option alone is not enough (the corrupt column has to be in
    # the explicit schema too, or audits see zero corrupt records).
    import juliadb_jl_spark as jdb
    p = _write_jsonl(tmp_path / "bad2.jsonl",
                     ['{"id": 1}', 'NOT JSON {{{', '{"id": 3}'])
    for schema in ("id long",):          # DDL string form
        t = jdb.loadjsonl(p, spark, schema=schema, corrupt_col="_bad")
        rows = t.df.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r["_bad"] is not None]
        assert len(bad) == 1 and bad[0]["_bad"].startswith("NOT JSON")
    # StructType form, corrupt column pre-declared by the caller
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType
    st = StructType([StructField("id", LongType()),
                     StructField("_bad", StringType())])
    t2 = jdb.loadjsonl(p, spark, schema=st, corrupt_col="_bad")
    assert sum(r["_bad"] is not None for r in t2.df.collect()) == 1


def test_loadjsonl_explicit_schema_and_output(spark, tmp_path):
    import juliadb_jl_spark as jdb
    p = _write_jsonl(tmp_path / "s.jsonl",
                     ['{"id": 1, "v": 2}', '{"id": 2, "v": 3}'])
    t = jdb.loadjsonl(p, spark, schema="id long, v long",
                      output=str(tmp_path / "ooc"), pkey="id")
    # write-through parquet reopens with the pkey sidecar
    assert t.df.count() == 2 and t.pkey == ("id",)
    assert [f.dataType.simpleString() for f in t.df.schema.fields
            if f.name == "v"] == ["bigint"]


def test_flatten_structs_and_parse_json_column(spark):
    from juliadb_jl_spark.sources.json import (flatten_structs,
                                               parse_json_column)
    df = spark.createDataFrame(
        [(1, '{"url": "http://x", "meta": {"depth": 2}}'),
         (2, '{"url": "http://y", "meta": {"depth": 5}}')],
        ["id", "props"])
    parsed = parse_json_column(df, "props", flatten=True)
    flat = flatten_structs(parsed)
    rows = {r["id"]: r for r in flat.collect()}
    assert rows[1]["url"] == "http://x"
    assert rows[2]["meta_depth"] == 5
    assert "props" not in flat.columns
    # explicit schema wins over sampling
    typed = parse_json_column(df, "props", schema="url string",
                              out_col="p")
    assert typed.select("p.url").head()[0] == "http://x"


def test_parse_json_column_null_only_raises(spark):
    import pytest as _pytest

    from juliadb_jl_spark.sources.json import parse_json_column
    df = spark.createDataFrame([(1, None)], "id long, props string")
    with _pytest.raises(ValueError):
        parse_json_column(df, "props")


# ---------------------------------------------------------------------------
# Storage housekeeping: save_sorted (data skipping) + compact_table
# ---------------------------------------------------------------------------


def test_save_sorted_files_cover_disjoint_ranges(spark, tmp_path):
    """Range-clustered persistence must yield per-file min/max ranges
    that don't overlap (verified from the parquet footers via pyarrow)
    — the property footer-based data skipping depends on."""
    import pyarrow.parquet as pq

    import juliadb_jl_spark as jdb
    df = spark.range(0, 10_000).withColumnRenamed("id", "k") \
        .withColumn("v", F.col("k") * 2)
    out = str(tmp_path / "sorted")
    jdb.sources.parquet.save_sorted(jdb.table(df, pkey="k"), out,
                                    by="k", files=4)
    ranges = []
    for name in sorted(os.listdir(out)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, name)).metadata
        names = [md.schema.column(i).name
                 for i in range(len(md.schema))]
        ki = names.index("k")
        mins = [md.row_group(g).column(ki).statistics.min
                for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(ki).statistics.max
                for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    for (a_lo, a_hi), (b_lo, b_hi) in zip(sorted(ranges),
                                          sorted(ranges)[1:]):
        assert a_hi < b_lo  # strictly disjoint file ranges
    # reload restores pkey + presorted
    back = jdb.load(out, spark)
    assert back.pkey == ("k",) and back.presorted
    assert back.df.count() == 10_000


def test_compact_table_merges_small_files(spark, tmp_path):
    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.sources.parquet import compact_table
    out = str(tmp_path / "frag")
    # simulate a streaming sink's fragmentation: 12 tiny appends
    for i in range(12):
        jdb.save(jdb.table(
            spark.createDataFrame([(i * 10 + j, f"row {j}")
                                   for j in range(10)], ["id", "text"]),
            pkey="id"), out, mode="append" if i else "overwrite")
    before = sum(1 for n in os.listdir(out) if n.endswith(".parquet"))
    assert before >= 12
    n_files = compact_table(out, spark, target_mb=256)
    after = sum(1 for n in os.listdir(out) if n.endswith(".parquet"))
    assert n_files == after == 1  # 120 tiny rows -> one target-size file
    back = jdb.load(out, spark)
    assert back.pkey == ("id",)  # manifest survived the swap
    assert back.df.count() == 120
    assert back.df.agg(F.sum("id")).head()[0] == sum(range(120))


def test_compact_table_recovers_from_crashed_swap(spark, tmp_path):
    """Crash between the two swap renames strands the data in
    ._compact_old with the primary path missing; the next call must
    rename it back and proceed (and clean stale tmp/old leftovers)."""
    import shutil

    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.sources.parquet import compact_table
    out = str(tmp_path / "crashy")
    jdb.save(jdb.table(
        spark.createDataFrame([(i, f"r{i}") for i in range(20)],
                              ["id", "text"]), pkey="id"), out)
    # simulate the crash window: primary moved aside, tmp half-written
    os.rename(out, out + "._compact_old")
    os.makedirs(out + "._compact_tmp")
    n = compact_table(out, spark, target_mb=256)
    assert n >= 1
    assert not os.path.exists(out + "._compact_old")
    assert not os.path.exists(out + "._compact_tmp")
    back = jdb.load(out, spark)
    assert back.df.count() == 20 and back.pkey == ("id",)
    shutil.rmtree(out)


def test_profile_table_all_types_and_nulls(spark):
    from juliadb_jl_spark.functions.stats import profile_table
    df = spark.createDataFrame(
        [(1, 1.5, "a", [1, 2]), (2, None, "b", [3]),
         (3, 2.5, None, None), (4, 2.5, "b", [])],
        "i long, d double, s string, arr array<int>")
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert out["i"]["n_rows"] == 4 and out["i"]["n_null"] == 0
    assert out["i"]["n_distinct"] == 4
    assert (out["i"]["min_value"], out["i"]["max_value"]) == ("1", "4")
    assert out["d"]["n_null"] == 1 and out["d"]["null_frac"] == 0.25
    assert out["d"]["n_distinct"] == 2  # 1.5, 2.5 (null not counted)
    assert out["s"]["min_value"] == "a" and out["s"]["max_value"] == "b"
    # arrays: profiled for nulls/distinct, min/max stay NULL
    assert out["arr"]["n_null"] == 1
    assert out["arr"]["min_value"] is None
    # approx mode returns the same shape with close counts
    ap = {r["column"]: r for r in
          profile_table(df, exact_distinct=False).collect()}
    assert abs(ap["i"]["n_distinct"] - 4) <= 1
