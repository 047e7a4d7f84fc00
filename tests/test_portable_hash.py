"""Portable (oracle-reproducible) hash family: Spark ≡ DuckDB bit parity,
and the portable MinHash/SimHash paths agree with their exact baselines.

crc32perm (MinHash) and xxhash64 (SimHash) stay the 100-TB defaults; the
portable family exists so the SAME MinHash/SimHash pipelines are
value-checkable end-to-end (driver queries q67-q69)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import dedup as DD

SAMPLES = ["hello world", "a", "the quick brown fox", "héllo ünïcode 中文",
           "", "  spaced  out  ", "punct!?;:", "x" * 200]


def _duck_charfold(strings: list[str]) -> dict[str, int]:
    con = duckdb.connect()
    vals = ", ".join("(?)" for _ in strings)
    rows = con.execute(
        f"""SELECT s, list_reduce(list_prepend(CAST(0 AS BIGINT),
              [CAST(ascii(substring(s, i, 1)) AS BIGINT)
               FOR i IN range(1, length(s)+1)]),
              (h, c) -> (h*31 + c) % 2147483647)
            FROM (VALUES {vals}) t(s)""", strings).fetchall()
    con.close()
    return dict(rows)


def test_portable_hash_bit_parity_with_duckdb(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = {r["s"]: r["hv"] for r in
           df.select("s", DD.portable_hash(F.col("s")).alias("hv")).collect()}
    want = _duck_charfold(SAMPLES)
    assert got == want
    # 31-bit range invariant
    assert all(0 <= v < 2**31 - 1 for v in got.values())


def test_portable_hash_md5_flat_fold_bit_identity(spark):
    # portable_hash_md5 is the unrolled (codegen-safe) form of
    # portable_hash(md5(col)) — must be bit-identical on every input,
    # including empty string and unicode (md5 hex is ascii either way).
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    rows = df.select(
        DD.portable_hash(F.md5(F.col("s"))).alias("fold"),
        DD.portable_hash_md5(F.col("s")).alias("flat")).collect()
    assert all(r["fold"] == r["flat"] for r in rows)
    assert all(0 <= r["flat"] < 2**31 - 1 for r in rows)


def test_perm_constants_deterministic_nonzero():
    a1, b1 = DD.perm_constants(32)
    a2, b2 = DD.perm_constants(32)
    assert (a1, b1) == (a2, b2)
    assert all(a != 0 for a in a1)  # multiplicative-group guarantee
    assert len(set(zip(a1, b1))) == 32


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river"),
    (2, "the quick brown fox jumps over the lazy dog near the creek"),
    (3, "completely different text about spark query engines and scale"),
    (4, "the quick brown fox jumps over the lazy dog near the river"),  # dup of 1
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_minhash_portable_identical_docs_identical_sigs(docs):
    sig = {r["id"]: r["signature"] for r in
           DD.minhash_signature(docs, "doc_id", k=3, num_hashes=16,
                                hash_family="portable").collect()}
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]
    assert 5 not in sig  # <3 tokens → no shingles → absent
    assert all(0 <= v < 2**31 - 1 for v in sig[1])


def test_lsh_portable_pairs_match_exact_jaccard(docs):
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           DD.minhash_lsh_pairs(docs, "doc_id", k=3, num_hashes=16, bands=8,
                                threshold=0.5,
                                hash_family="portable").collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             DD.ngram_jaccard_pairs(docs, "doc_id", k=3,
                                    threshold=0.5).collect()}
    # LSH pairs are a subset of exact pairs with identical jaccard values;
    # the exact-dup pair (1,4) shares every band → guaranteed recall
    assert set(got) <= set(exact)
    assert (1, 4) in got and got[(1, 4)] == 1.0
    for pair, j in got.items():
        assert exact[pair] == j


def test_simhash_portable_bits_and_dup_invariance(docs):
    sig = {r["id"]: r["simhash"] for r in
           DD.simhash(docs, "doc_id", bits=31,
                      hash_family="portable").collect()}
    assert sig[1] == sig[4]
    assert all(0 <= v < 2**31 for v in sig.values())


def test_simhash_portable_rejects_wide_bits(docs):
    with pytest.raises(ValueError, match="bits<=31"):
        DD.simhash(docs, "doc_id", bits=64, hash_family="portable")


def test_simhash_pairs_portable_matches_bruteforce_banding(docs):
    """simhash_pairs(bits=31, portable) ≡ a brute-force recomputation of
    its whole contract — signature, four 8-bit band keys, candidate
    blocking, hamming cut — from the collected signatures (the same
    construction the q37 oracle SQL mirrors)."""
    sig = {r["id"]: r["simhash"] for r in
           DD.simhash(docs, "doc_id", bits=31,
                      hash_family="portable").collect()}
    width, mask = 8, 0xFF
    want = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shares_band = any(
                ((sig[a] >> (width * k)) & mask) ==
                ((sig[b] >> (width * k)) & mask) for k in range(4))
            ham = bin(sig[a] ^ sig[b]).count("1")
            if shares_band and ham <= 3:
                want[(a, b)] = ham
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           DD.simhash_pairs(docs, "doc_id", max_hamming=3, bits=31,
                            hash_family="portable",
                            unique_lift=False).collect()}
    assert got == want
    assert (1, 4) in got and got[(1, 4)] == 0  # exact dup: hamming 0


def test_simhash_pairs_band_width_adapts_to_bits(docs):
    """64-bit default keeps the original 16-bit bands (same results as
    before the bits param existed); the unique-lift path propagates
    bits/hash_family (dup docs 1/4 always pair at hamming 0)."""
    base = {(r["id_a"], r["id_b"]) for r in
            DD.simhash_pairs(docs, "doc_id", max_hamming=3,
                             unique_lift=False).collect()}
    lifted = {(r["id_a"], r["id_b"]) for r in
              DD.simhash_pairs(docs, "doc_id", max_hamming=3,
                               unique_lift=True).collect()}
    assert (1, 4) in base and base == lifted
    lifted_p = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                DD.simhash_pairs(docs, "doc_id", max_hamming=3, bits=31,
                                 hash_family="portable",
                                 unique_lift=True).collect()}
    direct_p = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                DD.simhash_pairs(docs, "doc_id", max_hamming=3, bits=31,
                                 hash_family="portable",
                                 unique_lift=False).collect()}
    assert lifted_p == direct_p


def test_portable_hash_flat_vs_fold_boundary(spark):
    """r9: portable_hash evaluates ≤64-char strings as a flat codegen
    polynomial and longer ones with the interpreted fold — both must be
    bit-identical to the raw HOF fold at the boundary and on unicode."""
    cases = ["x" * 63, "y" * 64, "z" * 65, "w" * 64 + "q",
             "中" * 64, "中" * 65, "é" * 63 + "中文",
             "", "a", " b ", "tab\tsep", "x" * 1000]
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    raw_fold = F.when(
        F.length("s") == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), F.length("s")),
            F.lit(0).cast("long"),
            lambda h, i: (h * 31 + F.ascii(F.substring(F.col("s"), i,
                                                       F.lit(1))))
            % F.lit(DD._P31)))
    rows = df.select("s", DD.portable_hash(F.col("s")).alias("new"),
                     raw_fold.alias("ref")).collect()
    for r in rows:
        assert r["new"] == r["ref"], (r["s"][:20], r["new"], r["ref"])


def test_portable_hash_sql_vs_column_construction(spark):
    """r9: portable_hash builds via ONE F.expr parse when the input
    column round-trips through SQL text, and via the Column API for
    lambda variables.  The two constructions must be bit-identical,
    and lambda-variable inputs must route to the Column path."""
    cases = ["x" * 63, "y" * 64, "z" * 65, "中" * 64, "中" * 65,
             "", "a", "it's \"quoted\"", "back\\slash", "x" * 200]
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    # the F.expr fast path must actually ENGAGE for a plain column
    # (ADVICE r9: if col_sql silently always returned None, both
    # columns below would take the Column path and the comparison
    # would pass while the perf win silently died)
    assert DD._col_sql(F.col("s")) is not None
    # and non-deterministic inputs must be REJECTED (they would be
    # spliced — and re-evaluated — once per polynomial term)
    assert DD._col_sql(F.concat(F.col("s"), F.rand())) is None
    rows = df.select(
        DD.portable_hash(F.col("s")).alias("sql_path"),
        DD._ph_column(F.col("s")).alias("col_path"),
        DD.portable_hash_md5(F.col("s")).alias("md5_sql"),
        DD.portable_hash(F.md5(F.col("s"))).alias("md5_ref")).collect()
    for r in rows:
        assert r["sql_path"] == r["col_path"]
        assert r["md5_sql"] == r["md5_ref"]
    # lambda variables cannot be spliced into SQL text: the dispatch
    # must fall back to the Column construction and stay correct
    arr = df.select(F.array("s").alias("a"), F.col("s"))
    lam = arr.select(
        F.transform("a", lambda w: DD.portable_hash(w))[0].alias("h"),
        DD.portable_hash(F.col("s")).alias("ref")).collect()
    for r in lam:
        assert r["h"] == r["ref"]


def test_hyperplane_bucket_flat_vs_fold(spark):
    """r9: hyperplane_bucket unrolls the dot product into flat codegen
    for vectors of the declared dim and keeps the interpreted fold for
    every other shape.  Must be bit-identical to the original
    aggregate(zip_with) construction on: exact-dim float32 vectors,
    short/long vectors, NULL, empty, and near-zero dots."""
    import numpy as np
    rng = np.random.RandomState(3)
    dim = 16
    rows = [(i, [float(x) for x in rng.randn(dim).astype("float32")])
            for i in range(50)]
    rows += [(100, [0.0] * dim), (101, None), (102, []),
             (103, [1.0] * (dim - 3)), (104, [1.0] * (dim + 5))]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    rng2 = np.random.RandomState(42)
    planes = rng2.randn(8, dim)
    ref = None
    for i in range(8):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        dot = F.aggregate(F.zip_with(F.col("v"), plane,
                                     lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        ref = bit if ref is None else ref.bitwiseOR(bit)
    out = df.select("id", DD.hyperplane_bucket("v", dim).alias("new"),
                    ref.alias("ref")).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["new"] == r["ref"], (r["id"], r["new"], r["ref"])


def test_flat_vector_kernels_vs_fold(spark):
    """r9: dot_expr/norm_expr/cosine_expr with a declared `dim` unroll
    into flat codegen for exact-dim rows and keep the interpreted fold
    for every other shape.  Must be bit-identical to the dim-less fold
    construction on float32/float64 vectors, short/long/NULL/empty
    arrays, zero vectors, and the sq_dist centroid kernel."""
    import numpy as np

    from juliadb_jl_spark.functions import clustering as KM
    from juliadb_jl_spark.functions import similarity as SIM
    rng = np.random.RandomState(7)
    dim = 12
    rows = [(i, [float(x) for x in rng.randn(dim).astype("float32")],
             [float(x) for x in rng.randn(dim)]) for i in range(40)]
    rows += [(100, [0.0] * dim, [0.0] * dim), (101, None, [1.0] * dim),
             (102, [], []), (103, [1.0] * (dim - 2), [1.0] * (dim - 2)),
             (104, [0.5] * (dim + 3), [0.5] * (dim + 3))]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<double>")
    ad = F.col("a").cast("array<double>")
    centroid = [float(x) for x in rng.randn(dim)]
    out = df.select(
        "id",
        SIM.dot_expr(ad, F.col("b"), dim).alias("dot_f"),
        SIM.dot_expr(ad, F.col("b")).alias("dot_r"),
        SIM.norm_expr(F.col("b"), dim).alias("nrm_f"),
        SIM.norm_expr(F.col("b")).alias("nrm_r"),
        # cosine divides by the norms — NULL/zero/empty vectors raise
        # under ANSI in BOTH branches (pre-existing contract), so guard
        # the degenerate rows out of the cosine columns only
        F.when(F.col("id").isin(100, 101, 102), F.lit(None))
        .otherwise(SIM.cosine_expr(ad, F.col("b"), dim)).alias("cos_f"),
        F.when(F.col("id").isin(100, 101, 102), F.lit(None))
        .otherwise(SIM.cosine_expr(ad, F.col("b"))).alias("cos_r"),
        KM.sq_dist_expr(F.col("b"), centroid).alias("sq_f"),
        F.aggregate(F.zip_with(F.col("b"),
                               F.array(*[F.lit(c) for c in centroid]),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("sq_r"),
    ).collect()
    import math
    assert len(out) == len(rows)
    for r in out:
        for f, ref in (("dot_f", "dot_r"), ("nrm_f", "nrm_r"),
                       ("cos_f", "cos_r"), ("sq_f", "sq_r")):
            x, y = r[f], r[ref]
            assert (x == y or (x is None and y is None)
                    or (isinstance(x, float) and isinstance(y, float)
                        and math.isnan(x) and math.isnan(y))), \
                (r["id"], f, x, y)


def test_lit_centroid_kernels_vs_generic(spark):
    """r9: dot_lit_expr/cosine_lit_expr inline the literal centroid per
    index (the generic flat path repeats the O(dim) array text per term
    — O(dim²) SQL).  Must be bit-identical to the generic dim-flagged
    forms on exact-dim/short/long/NULL/empty vectors."""
    import math

    import numpy as np

    from juliadb_jl_spark.functions import similarity as SIM
    rng = np.random.RandomState(11)
    dim = 16
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(30)]
    rows += [(100, [0.0] * dim), (101, None), (102, []),
             (103, [1.0] * (dim - 2)), (104, [0.5] * (dim + 4))]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    centroid = [float(x) for x in rng.randn(dim)]
    cvec = F.array(*[F.lit(x) for x in centroid])
    out = df.select(
        "id",
        SIM.dot_lit_expr(F.col("v"), centroid).alias("dot_l"),
        SIM.dot_expr(F.col("v"), cvec, dim).alias("dot_g"),
        # zero/NULL/empty vectors divide by a 0/NULL norm in BOTH
        # branches — guard those out of the cosine columns only
        F.when(F.col("id").isin(100, 101, 102), F.lit(None))
        .otherwise(SIM.cosine_lit_expr(F.col("v"), centroid))
        .alias("cos_l"),
        F.when(F.col("id").isin(100, 101, 102), F.lit(None))
        .otherwise(SIM.cosine_expr(F.col("v"), cvec, dim)).alias("cos_g"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        for f, g in (("dot_l", "dot_g"), ("cos_l", "cos_g")):
            x, y = r[f], r[g]
            assert (x == y or (x is None and y is None)
                    or (isinstance(x, float) and isinstance(y, float)
                        and math.isnan(x) and math.isnan(y))), \
                (r["id"], f, x, y)


def test_band_buckets_one_parse_bit_parity(spark):
    """r10: band_buckets builds its banding via one-parse selectExpr;
    pin bit-parity against the Column-API construction it replaced,
    for both families (xxhash64 literal typing + 0-based getItem)."""
    from juliadb_jl_spark.functions import dedup as DD
    rows = [(i, [((i * 1315423911 + j * 2654435761) % (1 << 63)) - (1 << 62)
                 for j in range(8)]) for i in range(50)]
    sig = spark.createDataFrame(rows, "id long, signature array<long>")
    for fam in ("crc32perm", "portable"):
        new = DD.band_buckets(sig, bands=4, r=2, hash_family=fam)
        bands, r = 4, 2
        if fam == "portable":
            band_exprs = [F.array(*[F.col("signature")[bi * r + j]
                                    for j in range(r)])
                          for bi in range(bands)]
        else:
            band_exprs = [F.xxhash64(F.lit(bi),
                                     *[F.col("signature")[bi * r + j]
                                       for j in range(r)])
                          for bi in range(bands)]
        old = sig.select("id", F.posexplode(F.array(*band_exprs))
                         .alias("band", "bucket"))
        a = sorted(map(tuple, new.collect()))
        b = sorted(map(tuple, old.collect()))
        assert a == b and len(a) == 200, fam


def test_simhash_one_parse_bit_parity(spark):
    """r10: simhash builds its per-bit sums + OR chain via one-parse
    SQL; pin bit-parity against the Column-API construction it
    replaced, for both families (long-literal shifting, CASE typing,
    inline-h vs projected-h)."""
    from juliadb_jl_spark.functions import dedup as DD
    from juliadb_jl_spark.functions.dedup import _spread, portable_hash
    from juliadb_jl_spark.functions.text import tokens
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    for fam, bits in (("portable", 31), ("xxhash64", 64)):
        new = {r["id"]: r["simhash"] for r in
               DD.simhash(df, "doc_id", bits=bits,
                          hash_family=fam).collect()}
        tok = _spread(df).select(F.col("doc_id").alias("id"),
                                 F.explode(tokens(F.col("text"))).alias("t"))
        h = portable_hash(F.col("t")) if fam == "portable" \
            else F.xxhash64(F.col("t"))
        mask = lambda i: F.shiftleft(F.lit(1).cast("long"), i)  # noqa: E731
        bit_sums = [F.sum(F.when(h.bitwiseAND(mask(i)) != 0, 1)
                          .otherwise(-1)).alias(f"b{i}")
                    for i in range(bits)]
        agg = tok.groupBy("id").agg(*bit_sums)
        sig = None
        for i in range(bits):
            bit = F.when(F.col(f"b{i}") > 0, mask(i)) \
                .otherwise(F.lit(0).cast("long"))
            sig = bit if sig is None else sig.bitwiseOR(bit)
        old = {r["id"]: r["simhash"] for r in
               agg.select("id", sig.alias("simhash")).collect()}
        assert new == old and len(new) == 5, fam
