"""Distributed-invariance sweep: every operator must give identical results
regardless of partitioning — the reference's core test technique
(test/test_join.jl:15-30 sweeps chunk counts 1:5 on both join sides;
test/test_query.jl:95 uses uneven chunkings).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import juliadb_jl_spark as jdb
from juliadb_jl_spark.plans import selectors as S

CHUNKS = [1, 2, 5]


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols, ignore_index=True)


@pytest.fixture(scope="module")
def li(tables):
    return jdb.table(tables["lineitem"].df.limit(2000),
                     pkey=("l_orderkey", "l_linenumber")).compute()


def test_groupreduce_chunk_invariant(li):
    results = []
    for n in CHUNKS:
        t = li.distribute(n)
        out = jdb.groupreduce({"s": S.pair("l_quantity", "sum"),
                               "c": F.count(F.lit(1))},
                              t, by="l_returnflag").collect()
        results.append(_norm(out))
    for r in results[1:]:
        pd.testing.assert_frame_equal(results[0], r)


def test_join_chunk_grid(tables):
    o = jdb.table(tables["orders"].df.limit(500), pkey=("o_orderkey",))
    c = jdb.table(tables["customer"].df, pkey=("c_custkey",))
    base = None
    for nl in CHUNKS:
        for nr in [1, 3]:
            out = jdb.join(o.distribute(nl), c.distribute(nr), how="left",
                           lkey="o_custkey", rkey="c_custkey",
                           lselect=("o_orderkey",), rselect=("c_name",))
            got = _norm(out.collect())
            if base is None:
                base = got
            else:
                pd.testing.assert_frame_equal(base, got)


def test_asofjoin_chunk_invariant(tables):
    ev = tables["events"].df.limit(1000)
    clicks = jdb.table(ev.filter(F.col("event_type") == "click")
                       .select("user_id", "ts", "event_id"))
    buys = jdb.table(ev.filter(F.col("event_type") == "purchase")
                     .select("user_id", "ts", F.col("value").alias("pv")))
    base = None
    for n in CHUNKS:
        out = jdb.asofjoin(jdb.table(clicks.df.repartition(n)),
                           jdb.table(buys.df.repartition(max(1, 6 - n))),
                           by="user_id", on="ts")
        got = _norm(out.collect())
        if base is None:
            base = got
        else:
            pd.testing.assert_frame_equal(base, got)


def test_holistic_groupby_chunk_invariant(li):
    base = None
    for n in CHUNKS:
        t = li.distribute(n)
        out = jdb.groupby("median", t, by="l_linestatus",
                          select="l_quantity").collect()
        got = _norm(out)
        if base is None:
            base = got
        else:
            pd.testing.assert_frame_equal(base, got)


def test_reduce_closure_chunk_invariant(li):
    vals = [jdb.reduce_(lambda a, b: a + b, li.distribute(n),
                        select="l_quantity")["l_quantity"]
            for n in CHUNKS]
    assert len({round(v, 6) for v in vals}) == 1


def test_dedup_chunk_invariant(tables):
    from juliadb_jl_spark.functions import dedup as DD
    d = tables["documents"].df
    base = None
    for n in CHUNKS:
        out = DD.ngram_jaccard_pairs(d.repartition(n), "doc_id",
                                     k=3, threshold=0.5).toPandas()
        got = _norm(out)
        if base is None:
            base = got
        else:
            pd.testing.assert_frame_equal(base, got)


def test_substring_dedup_chunk_invariant(tables):
    from juliadb_jl_spark.functions import dedup as DD
    d = tables["documents"].df
    base = None
    for n in CHUNKS:
        out = DD.dedup_substrings(d.repartition(n), "doc_id",
                                  k=20).select("doc_id", "text").toPandas()
        got = _norm(out)
        if base is None:
            base = got
        else:
            pd.testing.assert_frame_equal(base, got)


def test_incremental_against_chunk_invariant(tables):
    """Incremental-ingest results are invariant to the partition layout
    of BOTH the batch and the index (1/2/5-way grids)."""
    from pyspark.sql import functions as F

    from juliadb_jl_spark.functions import incremental as INC
    d = tables["documents"].df
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    base_kept = None
    base_cand = None
    for nb, ni in [(1, 5), (2, 2), (5, 1)]:
        idx = INC.dedup_index(old.repartition(ni), "doc_id").repartition(ni)
        kept = sorted(r["doc_id"] for r in INC.dedup_exact_against(
            new.repartition(nb), idx, "doc_id").collect())
        mh = INC.minhash_index(old.repartition(ni), "doc_id",
                               num_hashes=16).repartition(ni)
        cand = sorted(tuple(r) for r in INC.minhash_against(
            new.repartition(nb), mh, "doc_id", num_hashes=16, bands=8,
            verify=False).collect())
        if base_kept is None:
            base_kept, base_cand = kept, cand
        else:
            assert kept == base_kept and cand == base_cand


# ---------------------------------------------------------------------------
# Winnowed fingerprints (MOSS selection)
# ---------------------------------------------------------------------------


def _window_fps_jvm_ref(df, id_col, text_col, k, fmt="hex"):
    """Reference k-window table, built entirely in the JVM:
    md5(concat_ws(" ", slice(tokens, i, k))) per window via
    `transform`+`slice`+`concat_ws`+`F.md5`. This is the bit-parity
    reference for the fused Arrow build (`dedup._window_fps`) in its
    `hex` and `bin` formats. It is interpreted HOF work (~40 µs per
    window), so it lives here and not in the package."""
    from juliadb_jl_spark.functions.text import tokens
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    md5_of = (lambda c: F.unhex(F.md5(c))) if fmt == "bin" else F.md5
    wins = F.transform(idx, lambda i: F.struct(
        i.alias("pos"),
        md5_of(F.concat_ws(" ", F.slice(toks, i, k))).alias("fp")))
    wtype = "binary" if fmt == "bin" else "string"
    wins = F.when(n >= k, wins).otherwise(
        F.array().cast(f"array<struct<pos:int,fp:{wtype}>>"))
    return (df.select(F.col(id_col).alias("id"), F.explode(wins).alias("w"))
            .select("id", "w.pos", "w.fp"))


def _winnow_window_frame_ref(df, id_col, text_col, k, w):
    """Reference MOSS selection as a window frame over the JVM window
    table: `min(struct(fp, pos))` over an id-partitioned, pos-ordered
    w-row frame, kept for rows that start a full w-window, then
    distinct. Ties go to the leftmost pos, as in the fused selection."""
    from pyspark.sql import Window
    fps = _window_fps_jvm_ref(df, id_col, text_col, k)
    frame = (Window.partitionBy("id").orderBy("pos")
             .rowsBetween(0, w - 1))
    return (fps.withColumn("__m", F.min(F.struct("fp", "pos")).over(frame))
            # pos runs 1..n_wins, so w-window starts are pos <= n_wins-w+1
            .withColumn("__nw", F.max("pos").over(Window.partitionBy("id")))
            .filter(F.col("pos") <= F.col("__nw") - (w - 1))
            .select("id", F.col("__m.pos").alias("pos"),
                    F.col("__m.fp").alias("fp"))
            .distinct())


def test_winnow_guarantee_and_density(spark):
    """Two docs sharing a >= w+k-1 token verbatim run must share a
    selected fingerprint; the winnowed set must be a subset of the
    full window table at roughly 2/(w+1) density."""
    import random

    from juliadb_jl_spark.functions.dedup import (_window_fps,
                                                  winnow_fingerprints)
    rng = random.Random(7)
    k, w = 5, 4
    shared = " ".join(f"s{i}" for i in range(k + w - 1))  # exactly w+k-1
    docs = []
    for d in range(6):
        pre = " ".join(f"a{d}_{i}" for i in range(rng.randint(0, 30)))
        post = " ".join(f"b{d}_{i}" for i in range(rng.randint(0, 30)))
        docs.append((d, f"{pre} {shared} {post}".strip()))
    docs.append((99, " ".join(f"u{i}" for i in range(60))))  # no overlap
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sel = winnow_fingerprints(df, "doc_id", k=k, w=w)
    rows = sel.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    # guarantee: every pair of sharing docs intersects on >= 1 fp
    for a in range(6):
        for b in range(a + 1, 6):
            assert by_doc[a] & by_doc[b], (a, b)
    # the unrelated doc shares nothing with doc 0
    assert not (by_doc[99] & by_doc[0])
    # subset of the full table, and materially smaller on the long doc
    full = _window_fps(df.filter(F.col("doc_id") == 99),
                       "doc_id", "text", k).collect()
    full_set = {(r["id"], r["pos"], r["fp"]) for r in full}
    sel99 = {(r["id"], r["pos"], r["fp"]) for r in rows if r["id"] == 99}
    assert sel99 <= full_set
    assert len(sel99) < len(full_set)
    # expected density 2/(w+1) = 0.4 — allow generous slack
    assert len(sel99) <= 0.7 * len(full_set)


def test_winnow_methods_identical(spark, tables):
    """The fused Arrow winnow must select EXACTLY the (id, pos, fp) set
    of the window-frame reference over JVM md5 windows, on real
    documents (varied lengths incl. < k tokens) and on edge docs —
    including w=1 (every window selected) and non-ascii text (the
    fused pass hashes utf-8 byte slices; they must equal the JVM md5
    of concat_ws)."""
    from juliadb_jl_spark.functions.dedup import winnow_fingerprints
    docs = tables["documents"].df.select("doc_id", "text").limit(200)
    uni = spark.createDataFrame(
        [(1000 + i, "héllo wörld ünïcode文字 " * 5 + f"tail{i} über ok")
         for i in range(3)], ["doc_id", "text"])
    docs = docs.unionByName(uni)
    for kk, ww in ((5, 4), (8, 1)):
        a = set(map(tuple, winnow_fingerprints(
            docs, "doc_id", k=kk, w=ww).collect()))
        b = set(map(tuple, _winnow_window_frame_ref(
            docs, "doc_id", "text", kk, ww).collect()))
        assert a == b and len(a) > 0
    edge = spark.createDataFrame(
        [(1, "only three words"),            # n < k -> no windows
         (2, " ".join(f"x{i}" for i in range(6))),  # n_wins < w
         (3, ""), (4, None)],
        "doc_id long, text string")
    assert winnow_fingerprints(edge, "doc_id", k=5, w=4).count() == 0
    assert _winnow_window_frame_ref(edge, "doc_id", "text", 5, 4) \
        .count() == 0


def test_window_fps_arrow_equals_expr(spark, tables):
    """The fused Arrow window-fp build must emit EXACTLY the JVM
    expression reference's (id, pos, fp) table, in both the hex and
    the raw-byte format — every substring-dedup op keys on these
    digests."""
    from juliadb_jl_spark.functions.dedup import _window_fps
    docs = tables["documents"].df.select("doc_id", "text").limit(150)
    uni = spark.createDataFrame(
        [(9001, "déjà vu " * 6 + "encore une fois"), (9002, ""),
         (9003, None), (9004, "short one")],
        "doc_id long, text string")
    docs = docs.unionByName(uni)
    for fmt in ("hex", "bin"):
        a = {(r[0], r[1], bytes(r[2]) if fmt == "bin" else r[2])
             for r in _window_fps(docs, "doc_id", "text", 8,
                                  fmt=fmt).collect()}
        b = {(r[0], r[1], bytes(r[2]) if fmt == "bin" else r[2])
             for r in _window_fps_jvm_ref(docs, "doc_id", "text", 8,
                                          fmt=fmt).collect()}
        assert a == b and len(a) > 0


def test_window_fp_formats_and_set_builder(spark, tables):
    """fmt="bin" must be the byte-decode of the hex digests, and
    `_window_fp_set` (the fps-only index builder) must emit exactly the
    distinct fp set of `_window_fps` as raw digest bytes — the
    substring index artifact keys on this equivalence."""
    from juliadb_jl_spark.functions.dedup import (_window_fp_set,
                                                  _window_fps)
    docs = tables["documents"].df.select("doc_id", "text").limit(120)
    uni = spark.createDataFrame(
        [(9001, "déjà vu " * 6 + "encore une fois"), (9002, ""),
         (9003, None), (9004, "ab " * 30)],  # in-doc repeated windows
        "doc_id long, text string")
    docs = docs.unionByName(uni)
    hexed = {(r[0], r[1], r[2])
             for r in _window_fps(docs, "doc_id", "text", 8).collect()}
    binned = {(r[0], r[1], bytes(r[2]).hex())
              for r in _window_fps(docs, "doc_id", "text", 8,
                                   fmt="bin").collect()}
    assert hexed == binned and len(hexed) > 0
    set_rows = [bytes(r[0]).hex() for r in
                _window_fp_set(docs, "text", 8).collect()]
    assert set(set_rows) == {fp for _, _, fp in hexed}
    with pytest.raises(ValueError):
        _window_fps(docs, "doc_id", "text", 8, fmt="b64")


def test_window_builders_reject_nonpositive_k(spark):
    """k < 1 has no k-token windows: every public window op must raise
    ValueError up front, not emit digests of empty or wrapped slices."""
    from juliadb_jl_spark.functions import dedup as DD
    from juliadb_jl_spark.functions import incremental as INC
    docs = spark.createDataFrame([(1, "a b c"), (2, "a b c d")],
                                 "doc_id long, text string")
    index = INC.substring_index(docs, "doc_id", k=2)
    ops = [
        lambda k: DD._window_fps(docs, "doc_id", "text", k),
        lambda k: DD._window_fps(docs, "doc_id", "text", k, fmt="u64"),
        lambda k: DD._window_fp_set(docs, "text", k),
        lambda k: DD.winnow_fingerprints(docs, "doc_id", k=k),
        lambda k: DD.duplicate_spans(docs, "doc_id", k=k),
        lambda k: DD.dedup_substrings(docs, "doc_id", k=k),
        lambda k: DD.dedup_substrings_multi(docs, "doc_id", ks=(k,)),
        lambda k: INC.substring_index(docs, "doc_id", k=k),
        lambda k: INC.duplicate_spans_against(docs, index, "doc_id",
                                              k=k),
        lambda k: INC.dedup_substrings_against(docs, index, "doc_id",
                                               k=k),
    ]
    for op in ops:
        for k in (0, -1):
            with pytest.raises(ValueError, match="k >= 1"):
                op(k).collect()


def test_winnow_partition_invariant(spark):
    from juliadb_jl_spark.functions.dedup import winnow_fingerprints
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(40)))
            for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    a = set(map(tuple, winnow_fingerprints(df, "doc_id", k=5, w=3)
                .collect()))
    b = set(map(tuple, winnow_fingerprints(df.repartition(5), "doc_id",
                                           k=5, w=3).collect()))
    assert a == b and len(a) > 0


def test_duplicate_spans_u64_fp_matches_md5(spark, tables):
    """fp_fmt="u64" (the r8 default: 8-byte vectorized poly-crc window
    fp) must produce the exact span set of the md5 "bin" path on real
    data — at test scale a 64-bit collision is ~impossible, so any
    difference is a build bug, not a collision.  (r9: both sides are
    now EXPLICIT — when u64 became the default, the original
    default-vs-u64 form silently compared u64 to itself.)  Also pins
    the u64 fp builder's structure: per-doc window counts match md5's,
    and fps are deterministic across repartitionings."""
    from juliadb_jl_spark.functions.dedup import _window_fps, duplicate_spans
    docs = tables["documents"].df.select("doc_id", "text").limit(200)
    uni = spark.createDataFrame(
        [(9001, "déjà vu " * 6 + "encore une fois"), (9002, ""),
         (9003, None), (9004, "ab " * 30)],
        "doc_id long, text string")
    docs = docs.unionByName(uni)
    for within in (False, True):
        a = {tuple(r) for r in duplicate_spans(
            docs, "doc_id", k=8, within_doc=within,
            fp_fmt="bin").collect()}
        b = {tuple(r) for r in duplicate_spans(
            docs, "doc_id", k=8, within_doc=within,
            fp_fmt="u64").collect()}
        assert a == b and len(a) > 0
    # structural parity of the builder itself: same (id, pos) grid,
    # and equal-fp pairs under md5 are equal-fp under u64 too
    md = {(r["id"], r["pos"]): r["fp"] for r in _window_fps(
        docs, "doc_id", "text", 8, fmt="bin").collect()}
    u6 = {(r["id"], r["pos"]): r["fp"] for r in _window_fps(
        docs, "doc_id", "text", 8, fmt="u64").collect()}
    assert set(md) == set(u6)
    by_md: dict = {}
    for key_, fp in md.items():
        by_md.setdefault(fp, []).append(key_)
    for keys in by_md.values():
        assert len({u6[k_] for k_ in keys}) == 1
    # determinism across physical layouts
    u6b = {(r["id"], r["pos"]): r["fp"] for r in _window_fps(
        docs.repartition(7), "doc_id", "text", 8, fmt="u64").collect()}
    assert u6 == u6b
    import pytest
    with pytest.raises(ValueError):
        duplicate_spans(docs, "doc_id", k=8, fp_fmt="hex")
