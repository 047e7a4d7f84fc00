"""DSIR-style importance resampling for pretraining-data selection
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" — public NeurIPS paper).

Pipeline: hashed bag-of-n-gram features (unigrams + adjacent word
bigrams folded into B buckets) → smoothed bucket distributions for a
TARGET corpus (what you want more of) and the RAW corpus (what you
have) → per-document log importance weight
``logw(d) = Σ_b count_b(d) · (log p̂_target[b] − log p̂_raw[b])`` →
top-k selection via Gumbel keys, which samples without replacement
with probability ∝ exp(logw).

Determinism: bucketing is a pure function of the gram (native xxhash64
by default — the 100-TB path; ``hash_family="portable"`` switches to
the 31-bit fold over md5 hex that is bit-identical in any SQL engine,
making every stage oracle-checkable in DuckDB), and the Gumbel noise
is a pure function of the document key (``g = logw − ln(−ln(u))`` with
``u`` from the portable family), so selection is reproducible across
runs, engines, partition layouts, and appends.

Scale (100 TB): every document is featurized in ONE fused Arrow pass
(`_doc_hist`): an Arrow UDF over the JVM token list slices each unigram
and bigram out of the token bytes, buckets it in numpy (md5 + the
31-bit fold for the portable family, a vectorized XXH64 for xxhash64)
and returns the document's bucket histogram — at most B
(bucket, count) entries. No gram string crosses back to the JVM, no
row per gram is ever generated, and no exchange is keyed on
(document, bucket). Both bucket distributions are B-sized (thousands
of rows) and broadcast; scoring explodes the histogram, joins the
broadcast log-ratio table and aggregates per document — the corpus
crosses a single shuffle keyed on the document id. Selection is a
sort().limit() the planner executes as TakeOrdered (no global sort).
The fitted log-ratio table is a tiny DataFrame you can persist and
reuse across ingest batches (append-stable: old documents never change
score or Gumbel key when new ones arrive).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import _kernels as K
from juliadb_jl_spark.functions.dedup import (_MD5_POWS, _P31, _spread,
                                              perm_constants,
                                              portable_hash_md5)
from juliadb_jl_spark.functions.text import tokens

# Independent constant streams: bucketing and Gumbel noise use disjoint
# seed offsets so the two hash roles never correlate.
_BUCKET_SEED_OFF = 101
_GUMBEL_SEED_OFF = 211


def bucket_constants(seed: int = 1) -> tuple[int, int]:
    """(a, b) of the seeded permutation behind `gram_bucket` — exposed so
    oracle SQL can inline the identical literals."""
    a, b = perm_constants(1, seed=2 * seed + _BUCKET_SEED_OFF)
    return a[0], b[0]


def gumbel_constants(seed: int = 1) -> tuple[int, int]:
    """(a, b) of the permutation behind the per-document Gumbel key."""
    a, b = perm_constants(1, seed=2 * seed + _GUMBEL_SEED_OFF)
    return a[0], b[0]


def _check_params(n_buckets: int, hash_family: str,
                  smoothing: float | None = None) -> None:
    """Reject inputs the SQL would otherwise absorb silently: an unknown
    family, a bucket count outside [1, 2^31−1] (pmod by 0 is NULL; the
    histogram's bucket field is an int), and a non-positive or non-finite
    smoothing (log(0) is NULL, so sums would skip target-absent grams)."""
    if hash_family not in ("xxhash64", "portable"):
        raise ValueError(f"hash_family must be 'xxhash64' or 'portable' "
                         f"(got {hash_family!r})")
    if not 1 <= n_buckets <= _P31:
        raise ValueError(f"n_buckets must be in [1, {_P31}] "
                         f"(got {n_buckets!r})")
    if smoothing is not None and not 0 < smoothing < math.inf:
        raise ValueError(f"smoothing must be positive and finite "
                         f"(got {smoothing!r})")


def word_grams(col: Column, bigrams: bool = True) -> Column:
    """Unigrams + (optionally) adjacent word bigrams of a text column as
    one array<string>. Empty/NULL text → empty array. Zero shuffle.

    The reference featurizer: the scoring entry points bucket the same
    grams inside `_doc_hist` without building these strings. Bigrams
    come from the fused Arrow byte-slice pass (`text.arrow_shingles`);
    unigrams stay native (the tokenizing split is codegen'd)."""
    t = tokens(col)
    if not bigrams:
        return t
    from juliadb_jl_spark.functions.text import arrow_shingles
    return F.concat(t, arrow_shingles(col, 2))


def gram_bucket(col: Column, n_buckets: int, seed: int = 1,
                hash_family: str = "xxhash64") -> Column:
    """Feature-hash one gram into [0, n_buckets).

    hash_family="xxhash64" (default): native JVM hash — the 100-TB
    path (same convention as MinHash/SimHash in functions/dedup.py).
    hash_family="portable": 31-bit fold of the gram's md5 hex (the md5
    round is what buys uniformity for natural-language grams) + a seeded
    linear permutation — bit-identical in DuckDB with inlined
    `bucket_constants`, so the whole DSIR pipeline is oracle-checkable.
    Either family yields a uniform bucketing; the scores differ only
    through which grams collide. The reference for `_doc_hist`, which
    computes both families bit for bit in numpy."""
    _check_params(n_buckets, hash_family)
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n_buckets))
    a, b = bucket_constants(seed)
    h = portable_hash_md5(col)  # unrolled 32-step fold, stays in codegen
    return ((F.lit(a) * h + F.lit(b)) % F.lit(_P31)) % F.lit(n_buckets)


# ---------------------------------------------------------------------------
# Fused per-document histogram kernel
# ---------------------------------------------------------------------------
# Grams are never materialized as strings: the batch's tokens are read
# into ONE byte buffer (`_kernels.tokens_of`), so every unigram and bigram
# (t[i] + " " + t[i+1], the `arrow_shingles(k=2)` bytes) is a contiguous
# [start, end) slice of it.  Each slice is bucketed in numpy and the
# (document, bucket) pairs are counted with one np.unique per batch.

_M64 = (1 << 64) - 1
_XP1 = 0x9E3779B185EBCA87   # XXH64 primes
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_XXH_SEED = 42              # the fixed seed of Spark's xxhash64()
_HIST_TYPE = "array<struct<bucket:int,cnt:bigint>>"


def _rotl(x, r: int):
    import numpy as np
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    import numpy as np
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_XP2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_XP3)
    return h ^ (h >> np.uint64(32))


def _xxh64_round(acc, lane):
    import numpy as np
    return _rotl(acc + lane * np.uint64(_XP2), 31) * np.uint64(_XP1)


def _xxh64_rows(m, seed: int):
    """Standard XXH64 of every row of the (n, L) uint8 matrix `m` (all
    rows one byte length), as uint64 — the algorithm of Spark's
    XXH64.hashUnsafeBytes (little-endian lanes)."""
    import numpy as np
    u = np.uint64
    n, L = m.shape
    nw = L // 8
    w = np.ascontiguousarray(m[:, :nw * 8]).view("<u8")
    j = 0
    if L >= 32:
        v = [np.full(n, (seed + _XP1 + _XP2) & _M64, u),
             np.full(n, (seed + _XP2) & _M64, u),
             np.full(n, seed & _M64, u),
             np.full(n, (seed - _XP1) & _M64, u)]
        while j + 4 <= nw:
            v = [_xxh64_round(v[i], w[:, j + i]) for i in range(4)]
            j += 4
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + \
            _rotl(v[3], 18)
        for vi in v:
            h = (h ^ _xxh64_round(u(0), vi)) * u(_XP1) + u(_XP4)
    else:
        h = np.full(n, (seed + _XP5) & _M64, u)
    h = h + u(L)
    for k in range(j, nw):
        h = h ^ _xxh64_round(u(0), w[:, k])
        h = _rotl(h, 27) * u(_XP1) + u(_XP4)
    p = nw * 8
    if L - p >= 4:
        k4 = np.ascontiguousarray(m[:, p:p + 4]).view("<u4")[:, 0]
        h = h ^ (k4.astype(u) * u(_XP1))
        h = _rotl(h, 23) * u(_XP2) + u(_XP3)
        p += 4
    for q in range(p, L):
        h = h ^ (m[:, q].astype(u) * u(_XP5))
        h = _rotl(h, 11) * u(_XP1)
    return _fmix(h)


def _xxhash64_spark(buf, starts, ends, seed: int):
    """``F.xxhash64(gram, F.lit(seed))`` for every gram slice
    ``buf[starts[i]:ends[i]]`` of the uint8 buffer, as int64: XXH64 of
    the UTF-8 bytes with Spark's seed 42, then the literal's step —
    ``hashInt`` for an int literal, ``hashLong`` once the seed no longer
    fits 32 bits (where `F.lit` types it bigint). Slices are grouped by
    byte length so each group is one (n, L) matrix."""
    import numpy as np
    u = np.uint64
    lens = ends - starts
    h = np.empty(len(lens), dtype=u)
    order = np.argsort(lens, kind="stable")
    cuts = np.flatnonzero(np.diff(lens[order])) + 1
    with np.errstate(over="ignore"):
        for idx in np.split(order, cuts):
            if len(idx) == 0:
                continue
            L = int(lens[idx[0]])
            m = buf[starts[idx, None] + np.arange(L)]
            h[idx] = _xxh64_rows(m, _XXH_SEED)
        if -(1 << 31) <= seed < (1 << 31):
            h = h + u((_XP5 + 4) & _M64)
            h = h ^ u(((seed & 0xFFFFFFFF) * _XP1) & _M64)
            h = _rotl(h, 23) * u(_XP2) + u(_XP3)
        else:
            k = (seed * _XP2) & _M64
            k = ((((k << 31) | (k >> 33)) & _M64) * _XP1) & _M64
            h = h + u((_XP5 + 8) & _M64)
            h = h ^ u(k)
            h = _rotl(h, 27) * u(_XP1) + u(_XP4)
        return _fmix(h).view(np.int64)


def _portable_fold(jb, starts, ends):
    """``portable_hash_md5`` for every gram slice ``jb[s:e]``: md5 (one C
    call per gram), then the 32-term fold over its hex digits. Digest
    byte k is hex digits 2k and 2k+1, so its share of the fold is a
    (16, 256) table lookup; the 16 shares (each < 2^31 after mod) sum
    below 2^35 — exact in int64, one mod at the end."""
    import numpy as np
    d = np.frombuffer(K.md5_slices(jb, starts, ends),
                      dtype=np.uint8).reshape(-1, 16)
    v = np.arange(256, dtype=np.int64)
    hi, lo = v >> 4, v & 15
    hi, lo = hi + 48 + 39 * (hi >= 10), lo + 48 + 39 * (lo >= 10)  # ASCII
    w = np.array(_MD5_POWS, dtype=np.int64)
    share = (hi[None, :] * w[0::2, None] + lo[None, :] * w[1::2, None]) % _P31
    h = np.zeros(len(d), dtype=np.int64)
    for k in range(16):
        h += share[k][d[:, k]]
    return h % _P31


def _doc_histograms(col, n_buckets: int, seed: int, bigrams: bool,
                    hash_family: str):
    """Per-document bucket histogram of a batch of token lists:
    array<struct<bucket:int, cnt:bigint>> ascending by bucket, NULL for a
    document with no grams. Bit-identical to bucketing
    `word_grams(..., bigrams)` with `gram_bucket` and counting."""
    import numpy as np
    import pyarrow as pa
    t = K.tokens_of(col)
    st, en, gdoc = t.st, t.en, K.row_index(t.ntok)
    if bigrams:
        same = gdoc[:-1] == gdoc[1:]   # t[i], t[i+1] in one document
        st = np.concatenate([st, st[:-1][same]])
        en = np.concatenate([en, en[1:][same]])
        gdoc = np.concatenate([gdoc, gdoc[:-1][same]])
    if hash_family == "xxhash64":
        b = np.mod(_xxhash64_spark(t.buf, st, en, seed), n_buckets)
    else:
        a_, b_ = bucket_constants(seed)
        b = ((a_ * _portable_fold(t.buf, st, en) + b_) % _P31) % n_buckets
    keys, cnt = np.unique(gdoc * n_buckets + b, return_counts=True)
    per = np.bincount(keys // n_buckets, minlength=len(t.ntok))
    hist = pa.StructArray.from_arrays(
        [pa.array((keys % n_buckets).astype(np.int32)), pa.array(cnt)],
        names=["bucket", "cnt"])
    return K.list_array(per, hist, per == 0)


def _doc_hist(text: Column, n_buckets: int, seed: int, bigrams: bool,
              hash_family: str) -> Column:
    """Per-document bucket histogram of the text's grams, one fused Arrow
    pass over `tokens(text)` (Java ``\\s+`` split and empty tokens
    exactly as `word_grams`): array<struct<bucket:int, cnt:bigint>>,
    NULL for a document with no grams."""
    return K.arrow_kernel(_doc_histograms, _HIST_TYPE, n_buckets, seed,
                          bigrams, hash_family)(tokens(text))


def doc_bucket_counts(df: DataFrame, id_col: str, text_col: str = "text",
                      n_buckets: int = 256, seed: int = 1,
                      bigrams: bool = True,
                      hash_family: str = "xxhash64") -> DataFrame:
    """Per-document hashed-gram bucket counts: (id_col, bucket, cnt),
    one row per input row and occupied bucket (a repeated id is not
    merged). Documents with no grams produce no rows (callers re-attach
    them).

    Scale: the fused histogram pass + one explode of ≤B entries per
    document — no aggregation, no exchange beyond `_spread`'s."""
    _check_params(n_buckets, hash_family)
    h = _doc_hist(F.col(text_col), n_buckets, seed, bigrams, hash_family)
    # bucket stays bigint, the type gram_bucket gives it
    return (_spread(df).select(F.col(id_col), F.inline(h))
            .select(id_col, F.col("bucket").cast("long").alias("bucket"),
                    "cnt"))


def bucket_logp(df: DataFrame, text_col: str = "text",
                n_buckets: int = 256, seed: int = 1,
                smoothing: float = 1.0, bigrams: bool = True,
                hash_family: str = "xxhash64") -> DataFrame:
    """Smoothed log bucket distribution of a corpus: (bucket, logp) with
    ``logp = ln((cnt_b + α) / (total + α·B))`` — every bucket present
    (zero-count buckets get the floor mass), so log-ratios are finite.

    Scale: the fused histogram pass + one B-sized aggregation of its
    exploded entries; the total re-joins via a broadcast of a single
    row. Output is B rows — driver-safe."""
    _check_params(n_buckets, hash_family, smoothing)
    spark = df.sparkSession
    h = _doc_hist(F.col(text_col), n_buckets, seed, bigrams, hash_family)
    counts = (_spread(df).select(F.inline(h))
              .groupBy("bucket").agg(F.sum("cnt").alias("cnt")))
    all_b = spark.range(n_buckets).select(F.col("id").cast("int")
                                          .alias("bucket"))
    full = (all_b.join(counts, "bucket", "left")
            .select("bucket", F.coalesce("cnt", F.lit(0)).alias("cnt")))
    total = full.agg(F.sum("cnt").alias("__t"))
    return (full.crossJoin(F.broadcast(total))
            .select("bucket",
                    F.log((F.col("cnt") + F.lit(float(smoothing))) /
                          (F.col("__t") + F.lit(float(smoothing * n_buckets))))
                    .alias("logp")))


def dsir_logratios(target: DataFrame, raw: DataFrame,
                   text_col: str = "text", n_buckets: int = 256,
                   seed: int = 1, smoothing: float = 1.0,
                   bigrams: bool = True,
                   hash_family: str = "xxhash64") -> DataFrame:
    """Per-bucket log importance ratio log p̂_target − log p̂_raw:
    (bucket, logratio), B rows. Persist this tiny table once and reuse
    it for every ingest batch."""
    t = bucket_logp(target, text_col, n_buckets, seed, smoothing, bigrams,
                    hash_family).withColumnRenamed("logp", "__lt")
    r = bucket_logp(raw, text_col, n_buckets, seed, smoothing, bigrams,
                    hash_family).withColumnRenamed("logp", "__lr")
    return t.join(r, "bucket").select(
        "bucket", (F.col("__lt") - F.col("__lr")).alias("logratio"))


def _score(hist: DataFrame, id_col: str, logratios: DataFrame) -> DataFrame:
    """(id_col, n_grams, logw) from exploded histogram rows (id_col,
    bucket, cnt), where a gram-less document is one row with NULL bucket
    and cnt: the broadcast log-ratio join + one per-document rollup."""
    joined = hist.join(F.broadcast(logratios), "bucket", "left")
    return (joined.groupBy(id_col)
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_grams"),
                 F.coalesce(F.sum(F.col("cnt") * F.col("logratio")),
                            F.lit(0.0)).alias("logw")))


def dsir_scores(df: DataFrame, id_col: str, logratios: DataFrame,
                text_col: str = "text", n_buckets: int = 256,
                seed: int = 1, bigrams: bool = True,
                hash_family: str = "xxhash64") -> DataFrame:
    """Per-document log importance weight: (id_col, n_grams, logw) for
    EVERY input document (gram-less documents score 0.0 over 0 grams —
    neutral weight, never NULL).

    Scale: the fused histogram pass; inline_outer keeps gram-less docs
    in-line (no second pass); the B-sized log-ratio table broadcasts;
    one per-doc aggregation — the corpus crosses exactly one shuffle,
    keyed on the id."""
    _check_params(n_buckets, hash_family)
    h = _doc_hist(F.col(text_col), n_buckets, seed, bigrams, hash_family)
    return _score(_spread(df).select(F.col(id_col), F.inline_outer(h)),
                  id_col, logratios)


def gumbel_key(id_col: Column, logw: Column, seed: int = 1) -> Column:
    """Deterministic Gumbel-perturbed key ``logw − ln(−ln(u))`` where
    ``u = (perm(portable_hash(md5(id))) + 0.5) / (2^31−1)`` — strictly
    inside (0, 1), so the key is always finite. Top-k by this key is a
    weighted sample without replacement with P(select) ∝ exp(logw)
    (Gumbel-top-k), reproducible everywhere the portable family is."""
    a, b = gumbel_constants(seed)
    ph = (F.lit(a) * portable_hash_md5(id_col.cast("string")) + F.lit(b)) \
        % F.lit(_P31)
    u = (ph + F.lit(0.5)) / F.lit(float(_P31))
    return logw - F.log(-F.log(u))


def dsir_select(scores: DataFrame, k: int, id_col: str,
                seed: int = 1) -> DataFrame:
    """Top-k documents by Gumbel key: the DSIR resampling step. Adds
    `gumbel` and returns exactly k rows (fewer if the input is smaller),
    ties broken by id. sort().limit() → the planner runs TakeOrdered
    (per-partition heaps + driver merge of k rows, no global sort)."""
    keyed = scores.withColumn(
        "gumbel", gumbel_key(F.col(id_col), F.col("logw"), seed))
    return (keyed.orderBy(F.col("gumbel").desc(), F.col(id_col).asc())
            .limit(k))


def dsir_fit_and_score(df: DataFrame, id_col: str, target: Column,
                       text_col: str = "text", n_buckets: int = 256,
                       seed: int = 1, smoothing: float = 1.0,
                       bigrams: bool = True,
                       hash_family: str = "xxhash64") -> DataFrame:
    """Fit + score in ONE corpus pass, for the common case where the
    target set is a predicate over the raw corpus itself (`target` is a
    boolean Column, e.g. ``F.col("lang") == "en"``): the fused histogram
    pass runs once and its exploded entries are persisted as
    (id, target flag, bucket, cnt); the raw distribution is a
    re-aggregation of those counts, the target distribution the same
    re-aggregation under the predicate, and the scores one broadcast
    join + per-doc rollup over the same cached table. Identical output
    to dsir_logratios → dsir_scores (differential-tested), at a third
    of the corpus scans.

    Scale: no gram string, no per-gram row and no (id, bucket) exchange
    — the cached table is already one row per (document, occupied
    bucket); the corpus crosses one shuffle, keyed on the id.

    Returns (id_col, n_grams, logw) for every input document."""
    _check_params(n_buckets, hash_family, smoothing)
    from juliadb_jl_spark.functions import scratch
    h = _doc_hist(F.col(text_col), n_buckets, seed, bigrams, hash_family)
    bc = scratch.register(
        _spread(df).select(F.col(id_col), target.alias("__t"),
                           F.inline_outer(h))
        .persist())

    # Raw and target bucket counts in ONE aggregation pass (r9: the
    # former two-branch shape re-read bc twice and zero-filled both
    # branches against a range(B) join before joining them back —
    # 2 aggregations + 2 range joins + 2 total crossJoins + 1 join,
    # ~8 tiny stages per run, all to produce B rows.  A bucket with
    # raw count 0 occurs in no document, so it can never be referenced
    # by the final per-doc join — the zero-fill only ever mattered for
    # target-absent buckets, which coalesce(0) covers.  The log
    # expressions are unchanged (same doubles in, same Math.log, so
    # bit-identical logratios; the dsir_logratios differential test
    # pins this).
    real = bc.filter(F.col("bucket").isNotNull())
    joint = real.groupBy("bucket").agg(
        F.sum("cnt").alias("__raw"),
        F.coalesce(F.sum(F.when(F.col("__t"), F.col("cnt"))),
                   F.lit(0)).alias("__tgt"))
    # Totals via an all-rows window over the B-sized joint table (B
    # rows in one partition — driver-safe at any corpus scale) instead
    # of a separate agg + crossJoin(broadcast): one stage fewer, and
    # the joint aggregation is executed once, not once per branch.
    from pyspark.sql import Window as _W
    wall = _W.partitionBy()
    a = F.lit(float(smoothing))
    ab = F.lit(float(smoothing * n_buckets))
    ratio = (joint
             .withColumn("__tr", F.sum("__raw").over(wall))
             .withColumn("__tt", F.sum("__tgt").over(wall))
             .select("bucket",
                     (F.log((F.col("__tgt") + a) / (F.col("__tt") + ab)) -
                      F.log((F.col("__raw") + a) / (F.col("__tr") + ab)))
                     .alias("logratio")))
    return _score(bc.drop("__t"), id_col, ratio)


def dsir_pipeline(raw: DataFrame, target: DataFrame, id_col: str, k: int,
                  text_col: str = "text", n_buckets: int = 256,
                  seed: int = 1, smoothing: float = 1.0,
                  bigrams: bool = True,
                  hash_family: str = "xxhash64") -> DataFrame:
    """Fit + score + select in one call (the one-shot shape; at scale,
    persist `dsir_logratios` once and call `dsir_scores`/`dsir_select`
    per ingest batch)."""
    lr = dsir_logratios(target, raw, text_col, n_buckets, seed,
                        smoothing, bigrams, hash_family)
    sc = dsir_scores(raw, id_col, lr, text_col, n_buckets, seed, bigrams,
                     hash_family)
    return dsir_select(sc, k, id_col, seed)
