"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (100 TB documents):
  * exact dedup — hash-groupBy on a normalized fingerprint: one shuffle.
  * n-gram Jaccard — shingle-inverted-index self-join: only docs sharing a
    shingle are paired (never O(n²)), each pair's intersection counted
    in one aggregation; an optional document-frequency cap drops
    ubiquitous shingles to bound skew.
  * MinHash+LSH — crc32perm signatures in one fused Arrow pass per doc,
    banded; only same-band buckets join; candidates verified with exact
    Jaccard.
  * SimHash — 64-bit signature from token hashes, computed with native
    bit-arithmetic aggregates after an explode; near-dups blocked by
    16-bit bands, verified by hamming distance.
Everything is DataFrame-native; Python runs only inside vectorized Arrow UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import _kernels as K
from juliadb_jl_spark.functions import scratch
from juliadb_jl_spark.functions.text import (arrow_shingles, fingerprint,
                                             shingles, tokens)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, id_col: str, text_col: str = "text",
                normalized: bool = True, score_col: str | None = None,
                keep: str = "max") -> DataFrame:
    """Keep one row per distinct text. hash-groupBy: one shuffle on the
    fingerprint, then a semi-join back to recover full rows.

    Keeper election: lowest id by default; with `score_col` set, the
    duplicate with the max (``keep="max"``, e.g. longest / highest
    quality — the production rule: dedup should discard the WORSE copy)
    or min (``keep="min"``) numeric score survives, ties broken by
    lowest id.  Same plan either way — the score rides the min-struct
    aggregate (negated for max: exact for ints and IEEE doubles), so
    the election stays one map-side-combinable agg even when one text
    is duplicated across millions of rows."""
    key = fingerprint(F.col(text_col)) if normalized else F.col(text_col)
    if score_col is None:
        keep_id = F.min(id_col)
    else:
        if keep not in ("max", "min"):
            raise ValueError(f"keep must be 'max' or 'min' (got {keep!r})")
        s = F.col(score_col)
        ordered = (-s) if keep == "max" else s
        # NULL scores must LOSE: struct min sorts NULL fields first, so
        # a leading is-null flag (false < true) demotes them without
        # coercing integer scores to double (exactness preserved).
        keep_id = F.min(F.struct(s.isNull().alias("n"),
                                 ordered.alias("s"),
                                 F.col(id_col).alias("i")))["i"]
    kept = (df.select(F.col(id_col), *([score_col] if score_col else []),
                      key.alias("__k"))
            .groupBy("__k").agg(keep_id.alias(id_col))
            .select(id_col))
    return df.join(kept, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------

def _spread(df: DataFrame) -> DataFrame:
    """Documents often arrive as few/one small files → one input partition,
    which serializes all per-doc expression work. Spread across cores;
    the shuffle is tiny relative to the per-row compute it parallelizes.

    Skipped when the SCAN already splits wide enough (a multi-file /
    multi-hundred-GB 100-TB corpus): repartitioning an already-parallel
    corpus is a pure-cost full shuffle — at scale the single biggest
    avoidable data movement in every document op. The parallelism
    estimate comes from the plan's input files (count, and bytes ÷
    maxPartitionBytes where stat-able) — NOT from
    ``rdd.getNumPartitions()``, which forces a second full physical
    planning per call and, downstream of a shuffle, reports
    ``spark.sql.shuffle.partitions`` even when the data sits skewed in
    one partition (ADVICE r6). Non-scan inputs (post-shuffle,
    createDataFrame) always repartition — the unconditional pre-r6
    behavior, which guarantees the spread this helper exists for."""
    import os as _os
    import re as _re
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    try:
        # An explicit repartition already upstream (typically a prior
        # _spread in a composed document op) — spreading again would be
        # a second full exchange of the same corpus. Logical-plan check:
        # analysis is already cached, no physical planning happens.
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
    except Exception:
        pass
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) >= p:
            return df
        try:
            mpb = int(_re.match(
                r"\d+", spark.conf.get("spark.sql.files.maxPartitionBytes",
                                       "134217728")).group())
        except Exception:
            mpb = 134217728
        est = 0
        for u in files:
            if u.startswith("file:"):
                try:
                    sz = _os.path.getsize(unquote(urlparse(u).path))
                    est += max(1, -(-sz // mpb))
                except OSError:
                    est += 1
            else:
                est += 1    # remote: can't stat — count the file once
            if est >= p:
                return df
    return df.repartition(p)


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return _spread(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(arrow_shingles(F.col(text_col), k)).alias("shset"))


def _norm_text(text_col: str) -> Column:
    """Case-preserving, whitespace-normalized text — EXACTLY what
    case-sensitive tokenization sees (ADVICE r3 high: the cluster key
    must NOT be fingerprint(), which case-folds and would cluster "A b"
    with "a b" despite their differing shingle sets)."""
    return F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")),
                                   r"\s+", " "))


# corpus duplicate-structure stats cache: plan semanticHash →
# (dup_fraction, est_max_cluster).  Performance-only hints (every gated
# path produces identical output either way), so a stale hit cannot
# affect correctness; repeated queries over the same corpus skip the
# stats jobs, which in local mode are ~all fixed submission overhead.
# Session-lifetime assumption: semanticHash identifies a PLAN, not the
# files under it — overwriting a parquet path mid-session leaves stale
# duplicate-structure hints behind (still output-identical, possibly
# mis-tuned guards); call `clear_dup_stats()` after rewriting inputs.
_DUP_STATS_MEMO: dict[tuple, tuple[float, int]] = {}


def clear_dup_stats() -> int:
    """Drop the memoized duplicate-structure hints (see _DUP_STATS_MEMO
    note above) — call after overwriting an input parquet in-session so
    the skew guards re-measure the new data.  Returns how many entries
    were dropped.  Exported next to ``release_scratch``."""
    n = len(_DUP_STATS_MEMO)
    _DUP_STATS_MEMO.clear()
    return n


def _dup_stats(df: DataFrame, id_col: str, text_col: str) -> tuple[float, int]:
    """(dup_fraction, est_max_cluster) of the exact-duplicate structure.

    Two cheap jobs, memoized on the input plan's semantic hash:
      * dup_fraction = 1 - distinct/total over the normalized-text hash,
        with approx_count_distinct — a single corpus scan with NO
        shuffle (HLL sketches merge map-side); ±5% is plenty for a
        20%-dups engage threshold.
      * est_max_cluster from a 1/16 ROW sample (keyed on the id hash)
        grouped by text hash, max count × 16.  Row sampling is the
        right frame here: a 10k-member cluster shows ~625 sampled
        members whatever its text hashes to, whereas a text-keyed
        sample would miss the whole cluster 15/16 of the time.  Small
        corpora (<5k rows) group exactly instead of sampling.
    """
    memo_key = None
    try:
        memo_key = (df.semanticHash(), id_col, text_col)
    except Exception:
        pass  # analysis-stage failure → recompute every call
    if memo_key is not None and memo_key in _DUP_STATS_MEMO:
        return _DUP_STATS_MEMO[memo_key]
    h = F.xxhash64(_norm_text(text_col))
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.approx_count_distinct(h).alias("u")).head()
    n, u = row["n"], row["u"]
    dup_frac = 0.0 if not n else max(0.0, 1.0 - u / n)
    if n <= 5000:
        mx = (df.groupBy(h.alias("__h")).count()
              .agg(F.max("count")).head()[0]) or 0
        est_max = int(mx)
    else:
        mx = (df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(16)) == 0)
              .groupBy(h.alias("__h")).count()
              .agg(F.max("count")).head()[0]) or 0
        est_max = int(mx) * 16
    if memo_key is not None:
        if len(_DUP_STATS_MEMO) > 256:
            _DUP_STATS_MEMO.clear()
        _DUP_STATS_MEMO[memo_key] = (dup_frac, est_max)
    return dup_frac, est_max


def _unique_text_lift(df: DataFrame, id_col: str, text_col: str, k: int,
                      rep_pairs_fn, val_col: str | None = "jaccard",
                      val_lit=1.0, star: bool = False) -> DataFrame:
    """Run a pair-finding closure on one representative per distinct
    text, then lift results to all cluster members — identical output,
    a fraction of the shingle/verify work on duplicate-dense corpora
    (web crawls run 30%+ exact dups; the standard dedup-before-neardup
    split).  Callers gate on `_dup_stats` before engaging.

    Correctness: identical text → identical shingle set → (a) members
    of one cluster pair at `val_col` = `val_lit` (the identical-pair
    value: jaccard 1.0, hamming 0 — always inside any sane threshold;
    pass val_col=None for generators that emit bare candidate pairs),
    and (b) a cross-cluster member pair has exactly its
    representatives' value. Clusters whose text yields NO shingles
    (< k tokens) emit no intra pairs — matching the direct path, where
    empty sets share nothing.

    `star=True` emits the COMPONENT-EQUIVALENT sparse edge set instead
    of all pairs: rep→member star edges for each duplicate cluster plus
    the rep-level near-dup pairs, un-expanded.  Connected components
    over it equal those over the all-pairs set exactly (members reach
    their rep; reps link clusters), but the edge count is
    O(members + rep pairs) instead of quadratic in cluster size — the
    form cluster-resolution consumers (duplicate_clusters,
    dedup_by_clusters) should feed CC at scale."""
    norm = _norm_text(text_col)
    # _spread BEFORE the md5 projection: single-file inputs arrive as
    # one partition, and an un-spread fingerprint pass serializes on a
    # single core (measured 83 s for the shingle variant of this bug)
    m = scratch.register(
        _spread(df).select(F.col(id_col).alias("__mid"),
                           F.md5(norm).alias("__fp"))
        .persist())
    reps = m.groupBy("__fp").agg(F.min("__mid").alias("__rid"))
    rep_df = df.join(
        reps.select(F.col("__rid").alias(id_col)), id_col, "left_semi")
    # materialize the representative pairs BEFORE the expansion fans
    # out: lazily-persisted frames inside the rep pipeline are raced by
    # the union's parallel stages (cache stampede → the shingle pass
    # recomputes per branch; measured 43 s vs 8.5 s at sf1). The count
    # is one cheap job over a tiny result.
    rp = scratch.register(rep_pairs_fn(rep_df).persist())
    rp.count()
    # intra-cluster: every member pair of a multi-member cluster whose
    # text has ≥1 shingle (short texts shingle to nothing → no pairs)
    multi = (m.groupBy("__fp").agg(F.count(F.lit(1)).alias("__sz"),
                                   F.min("__mid").alias("__rid"))
             .filter(F.col("__sz") > 1))
    # a doc shingles to nothing iff it has < k tokens — test the token
    # count on the (semi-join-shrunk, spread) cluster reps instead of
    # building shingle arrays for the whole corpus.  NO broadcast hint:
    # `multi` is (distinct duplicated texts)-sized — corpus-scale on a
    # dup-dense 100 TB crawl — so the planner/AQE must keep the right to
    # shuffle it; at small scale AQE broadcasts it from runtime stats.
    rep_rows = df.join(
        multi.select(F.col("__rid").alias(id_col)),
        id_col, "left_semi")
    has_sh = (_spread(rep_rows.select(F.col(id_col).alias("__rid"),
                                      F.col(text_col)))
              .filter(F.size(tokens(F.col(text_col))) >= k)
              .select("__rid"))
    live = scratch.register(  # feeds both sides of the self-join
        multi.join(has_sh, "__rid", "left_semi")
        .select("__fp", "__sz", "__rid").persist())
    # no broadcast hint on `live` either — same corpus-distinct scale
    mm = m.join(live, "__fp")
    vals = [F.lit(val_lit).alias(val_col)] if val_col else []
    if star:
        stars = (mm.filter(F.col("__mid") != F.col("__rid"))
                 .select(F.col("__rid").alias("id_a"),  # rep = cluster min
                         F.col("__mid").alias("id_b"), *vals))
        carried = [val_col] if val_col else []
        return stars.unionByName(rp.select("id_a", "id_b", *carried))
    # Small clusters: plain per-key self-join (≤ ~0.5M pairs per key).
    # BIG clusters are the skew case: a c-member clique's c²/2 member
    # pairs all carry ONE join key, so the plain self-join computes them
    # in one straggler task (a 10k clique = 50M pairs in one task).
    # Those clusters switch to a triangle-bucketed join: members hash
    # into B buckets, bucket-i rows replicate to bucket-pair groups
    # (i, j≥i) on one side and (i'≤j, j) on the other, so each of the
    # B(B+1)/2 groups computes only (c/B)² pairs — the c² OUTPUT is
    # inherent to all-pairs semantics, but its GENERATION parallelizes.
    # (Input replication is ×B/2 on member ROWS — ids only, not text.)
    BIG, B = 1024, 32
    small = mm.filter(F.col("__sz") < BIG)
    intra = (small.alias("x").join(small.alias("y"),
                                   (F.col("x.__fp") == F.col("y.__fp")) &
                                   (F.col("x.__mid") < F.col("y.__mid")))
             .select(F.col("x.__mid").alias("id_a"),
                     F.col("y.__mid").alias("id_b"), *vals))
    big = mm.filter(F.col("__sz") >= BIG) \
        .withColumn("__b", F.pmod(F.xxhash64("__mid"), F.lit(B)))
    # explicit co-partitioning on the bucket-group key: the join input is
    # byte-small (ids only) so AQE would coalesce it into ~1 task and
    # recreate the very straggler this path exists to kill — the OUTPUT
    # explosion is invisible to shuffle-read-bytes planning (measured:
    # one 3.6 s task emitting 25M+ pairs vs balanced sub-second tasks)
    p = df.sparkSession.sparkContext.defaultParallelism
    xs = big.withColumn("__j", F.explode(F.sequence(F.col("__b"),
                                                    F.lit(B - 1)))) \
        .repartition(p, "__fp", "__b", "__j")
    ys = big.withColumn("__i", F.explode(F.sequence(F.lit(0),
                                                    F.col("__b")))) \
        .repartition(p, "__fp", "__i", "__b")
    # a cross-bucket pair lives in exactly group (min(bx,by), max(bx,by))
    # with the lower bucket on the x side; same-bucket pairs order by id
    tri = (xs.alias("x").join(
        ys.alias("y"),
        (F.col("x.__fp") == F.col("y.__fp")) &
        (F.col("x.__b") == F.col("y.__i")) &
        (F.col("x.__j") == F.col("y.__b")) &
        ((F.col("x.__b") < F.col("y.__b")) |
         ((F.col("x.__b") == F.col("y.__b")) &
          (F.col("x.__mid") < F.col("y.__mid")))))
        .select(F.least("x.__mid", "y.__mid").alias("id_a"),
                F.greatest("x.__mid", "y.__mid").alias("id_b"), *vals))
    intra = intra.unionByName(tri)
    # inter-cluster: expand each representative pair to all member
    # cross-pairs, re-normalizing id order (clusters are disjoint, so
    # no pair is emitted twice).  Broadcast direction matters at scale:
    # rp (the FOUND pairs, persisted and counted — known small) is the
    # build side; reps/m are corpus-distinct-sized and must never carry
    # a broadcast hint (billions of rows on a 100 TB crawl).
    fa = reps.select(F.col("__rid").alias("id_a"), F.col("__fp").alias("__fa"))
    fb = reps.select(F.col("__rid").alias("id_b"), F.col("__fp").alias("__fb"))
    ma = m.select(F.col("__mid").alias("__ma"), F.col("__fp").alias("__fa"))
    mb = m.select(F.col("__mid").alias("__mb"), F.col("__fp").alias("__fb"))
    carried = [val_col] if val_col else []
    inter = (F.broadcast(rp).join(fa, "id_a").join(fb, "id_b")
             .join(ma, "__fa").join(mb, "__fb")
             .select(F.least("__ma", "__mb").alias("id_a"),
                     F.greatest("__ma", "__mb").alias("id_b"), *carried))
    return intra.unionByName(inter)


def _auto_cap(counts: DataFrame, floor: int = 64,
              budget_factor: int = 32) -> int | None:
    """Pick a hot-key cap from a (…, count) frame's own size histogram,
    or None when no cap is needed — backs df_cap="auto" (jaccard) and
    bucket_cap="auto" (minhash).

    A key of multiplicity s self-joins into C(s,2) candidate pairs, so
    total fanout is Σ n(s)·C(s,2) over the histogram while honest work
    is ~the posting count Σ n(s)·s.  The histogram is aggregated
    key→size→(size, n_keys) — at most #distinct-sizes driver rows, one
    cheap map-side-combined agg over the already-persisted frame.  If
    total fanout fits budget_factor × postings (default 32×, plus a 1M
    absolute floor so small corpora never cap), return None: the corpus
    is not pathological and exact recall is preserved.  Otherwise return
    the LARGEST cap whose surviving fanout fits the budget — dropping
    the fewest keys that still bounds the blowup — floored at `floor`
    so recall never collapses entirely."""
    hist = (counts.groupBy(F.col("count").alias("sz"))
            .agg(F.count(F.lit(1)).alias("nk")).collect())
    sizes = sorted(((int(r["sz"]), int(r["nk"])) for r in hist))
    postings = sum(sz * nk for sz, nk in sizes)
    budget = max(1_000_000, budget_factor * postings)
    running = sum(nk * sz * (sz - 1) // 2 for sz, nk in sizes)
    if running <= budget:
        return None
    cap = floor
    for sz, nk in reversed(sizes):
        running -= nk * sz * (sz - 1) // 2
        if running <= budget:
            cap = sz - 1
            break
    return max(floor, cap)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        k: int = 3, threshold: float = 0.5,
                        df_cap: int | str | None = None,
                        unique_lift: bool = True,
                        star_intra: bool = False) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Exact semantics: candidates = docs sharing ≥1 shingle (a pair below
    that shares nothing and has Jaccard 0), intersection counted per pair,
    |A∪B| = |A|+|B|-∩.  `df_cap` drops shingles appearing in more than
    df_cap docs (skew guard; slightly lossy — leave None for exact).
    `df_cap="auto"` sizes the cap from the corpus's own df histogram
    (`_auto_cap`): exact (no cap) unless the candidate fanout is
    pathological — still opt-in, because engaging it IS opting into
    lossiness; like any cap it disables the unique-text lift.

    One index, one join: a flat (id, n, h) inverted index — one row per
    distinct shingle hash of each doc, n = the doc's set size — is
    self-joined on h under the size filter t·na ≤ nb ∧ t·nb ≤ na, and
    one codegen count aggregation per pair gives its exact intersection
    directly.  A cap anti-joins the hot h out of that same index and
    recounts n."""
    t = float(threshold)
    if unique_lift and not df_cap:
        # duplicate-dense corpora (every web crawl): shingle + verify
        # only one representative per distinct text, lift pairs back to
        # members (identical output — see _unique_text_lift). df_cap
        # changes document frequencies under the lift, so it disables it.
        # Engage on EITHER trigger: dup mass ≥ 20% (lift pays for itself,
        # measured -19 s at sf1), OR an estimated exact-dup cluster of
        # ≥256 members even in an otherwise-unique corpus — a clique of
        # identical docs makes the direct self-join quadratic in the
        # clique (every member shares every shingle), while the lift
        # reduces it to ONE representative.
        dup_frac, est_max = _dup_stats(df, id_col, text_col)
        if dup_frac >= 0.2 or est_max >= 256:
            return _unique_text_lift(
                df, id_col, text_col, k,
                lambda rep_df: ngram_jaccard_pairs(
                    rep_df, id_col, text_col, k=k, threshold=threshold,
                    df_cap=None, unique_lift=False), star=star_intra)
    p = df.sparkSession.sparkContext.defaultParallelism
    # Index construction: explode the shingle SET and hash natively per
    # row (codegen xxhash64).  The index is persisted POST-repartition so the
    # Arrow shingle pass runs once and the self-join fanout stays
    # spread (identical-subtree aliases do NOT get exchange reuse in
    # the AQE initial plan — measured 3× CPU without the persist; and
    # although canChangeCachedPlanOutputPartitioning=true means both
    # join sides re-exchange the cache with ENSURE_REQUIREMENTS,
    # dropping this repartition measured 60% WORSE CPU in r10 — the
    # cache-build layout matters even when its partitioning is
    # invisible to downstream planning).  24 B/row, ~1-2 % of corpus
    # bytes.  The hot-shingle quadratic risk of the self-join is
    # guarded by the unique-text lift above and by df_cap.
    #
    # Examined and REJECTED (r10, VERDICT r9 #2): a PPJoin-style
    # positional filter in the join condition — index each shingle's
    # 1-based position in a global order and prune rows where
    # min(pa,pb)+min(na-pa,nb-pb) < t(na+nb)/(1+t) (sound: at-or-above-
    # threshold pairs keep every row since the bound dominates their
    # true intersection).  Measured at sf0.1: prunes 0.3% of join rows
    # (candidate pairs here are overwhelmingly TRUE near-dup pairs,
    # which positional bounds cannot prune) while the array_sort+
    # posexplode index build costs ~10% CPU — net loss 0.83→0.87 s
    # wall, 7.5→8.3 CPU-s.
    flat = (_shingle_sets(df, id_col, text_col, k)
            .select("id", F.size("shset").alias("n"),
                    F.explode("shset").alias("sh"))
            .select("id", "n", F.xxhash64("sh").alias("h")))
    if df_cap:
        from pyspark.sql import Window
        # feeds the df count(s) and the anti-join: one shingle pass
        flat = scratch.register(flat.persist())
        dfs = flat.groupBy("h").count()
        if df_cap == "auto":
            # one histogram agg decides from the corpus's own df
            # distribution; None → the uncapped index
            df_cap = _auto_cap(dfs)
        if df_cap:
            hot = dfs.filter(F.col("count") > df_cap).select("h")
            flat = (flat.join(hot, "h", "left_anti")
                    .withColumn("n", F.count(F.lit(1))
                                .over(Window.partitionBy("id"))))
    flat = scratch.register(flat.repartition(p, "h").persist())
    fa, fb = flat.alias("a"), flat.alias("b")
    pc = (fa.join(fb.hint("shuffle_hash"),
                  (F.col("a.h") == F.col("b.h")) &
                  (F.col("a.id") < F.col("b.id")) &
                  (F.col("b.n") >= F.col("a.n") * t) &
                  (F.col("a.n") >= F.col("b.n") * t))
          .groupBy(F.col("a.id").alias("id_a"),
                   F.col("b.id").alias("id_b"),
                   F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
          .agg(F.count(F.lit(1)).alias("inter")))
    return (pc.withColumn(
                "jaccard",
                F.col("inter") / (F.col("na") + F.col("nb")
                                  - F.col("inter")))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))


def verify_pairs_jaccard(df: DataFrame, cand: DataFrame, id_col: str,
                         text_col: str, k: int, threshold: float,
                         sets: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for an (id_a, id_b) candidate set only — joins the
    (few) candidates against per-doc shingle arrays and intersects
    natively; avoids re-running the full inverted-index join. Pass a
    precomputed/persisted (id, shset) frame via `sets` to skip the
    corpus re-scan."""
    if sets is None:
        sets = scratch.register(
            _shingle_sets(df, id_col, text_col, k).persist())
    sets_ = sets  # feeds both join sides
    a = sets_.selectExpr("id AS id_a", "shset AS sh_a")
    b = sets_.selectExpr("id AS id_b", "shset AS sh_b")
    # one-parse jaccard projection (VERDICT r9 #6): the Column-built
    # form cost ~0.1 s of py4j round trips per construction; the SQL
    # parses to the identical tree (`inter` was already referenced
    # twice as the same duplicated subtree in the Column form)
    return (cand.join(a, "id_a").join(b, "id_b")
            .selectExpr(
                "id_a", "id_b",
                "size(array_intersect(sh_a, sh_b)) / "
                "(size(sh_a) + size(sh_b) "
                "- size(array_intersect(sh_a, sh_b))) AS jaccard")
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# Portable hash family (oracle-reproducible)
# ---------------------------------------------------------------------------

_P31 = 2147483647  # 2^31 - 1, Mersenne prime

# Codegen'd flat-polynomial width for portable_hash: strings up to this
# many chars hash without the interpreted HOF fold.  31^j mod p weights
# for the j-th character from the END of the string.
_PH_FLAT_MAX = 64
_PH_POWS = [pow(31, j, _P31) for j in range(_PH_FLAT_MAX)]


def portable_hash(col: Column) -> Column:
    """31-bit polynomial string hash: fold (h*31 + codepoint) mod 2^31-1
    over the characters. Pure ANSI arithmetic — bit-identical in Spark
    and in the DuckDB oracle (list_reduce), so hash-family operators
    built on it are fully oracle-checkable.

    r9 evaluation shape: the original `aggregate` higher-order fold is
    CodegenFallback — interpreted per CHARACTER (~the 25× portable_hash
    _md5 cliff; measured 70 CPU-s of q36's sf1 run).  For strings up to
    `_PH_FLAT_MAX` chars the fold is algebraically a flat polynomial
    Σ ascii(c_{L−j})·31^j mod p with position-FROM-THE-END weights, so
    the weights are fixed literals and the whole hash stays inside
    whole-stage codegen: term j < 102·2^31, the ≤64-term sum < 2^44 —
    exact in int64, one mod at the end ≡ the fold's per-step mods.
    Longer strings (rare: shingles/tokens) take the interpreted fold —
    CaseWhen branches evaluate lazily, so only those rows pay it.
    Bit-identity flat-vs-fold is property-tested incl. unicode/empty."""
    # Construction cost matters too: the 64-term tree is ~650 Column
    # API calls = ~650 synchronous py4j round trips PER portable_hash
    # call (measured 1.3 s of q36's per-run build, guide §1.1).  When
    # the input column's unresolved expression round-trips through SQL
    # text (every non-lambda call site), build the whole thing as ONE
    # F.expr parse instead.  Lambda variables (classifier's transform)
    # don't round-trip — they keep the Column-API construction.
    inner = _col_sql(col)
    if inner is not None:
        return F.expr(_ph_sql(inner))
    return _ph_column(col)


def _col_sql(col: Column) -> str | None:
    """See `_exprutil.col_sql` (shared with similarity/clustering)."""
    from juliadb_jl_spark.functions._exprutil import col_sql
    return col_sql(col)


def _ph_sql(x: str) -> str:
    """portable_hash as SQL text over the expression string `x`.
    Arithmetic is term-for-term identical to `_ph_column` (int literals
    where that path uses int lits, bigint casts where it casts) so the
    two constructions are bit-identical — property-tested."""
    terms = " + ".join(
        f"IF(length({x}) > {j}, CAST(ascii(substring({x}, length({x}) - {j}"
        f", 1)) AS BIGINT) * {_PH_POWS[j]}, CAST(0 AS BIGINT))"
        for j in range(_PH_FLAT_MAX))
    fold = (f"aggregate(sequence(1, length({x})), CAST(0 AS BIGINT), "
            f"(h, i) -> (h * 31 + ascii(substring({x}, i, 1))) % {_P31})")
    return (f"CASE WHEN length({x}) <= {_PH_FLAT_MAX} THEN ({terms}) % {_P31} "
            f"ELSE {fold} END")


def _ph_column(col: Column) -> Column:
    """Column-API construction of portable_hash (lambda-variable-safe)."""
    length = F.length(col)
    flat_total = None
    for j in range(_PH_FLAT_MAX):
        term = F.when(
            length > j,
            F.ascii(col.substr(length - F.lit(j), F.lit(1))).cast("long")
            * F.lit(_PH_POWS[j])).otherwise(F.lit(0).cast("long"))
        flat_total = term if flat_total is None else flat_total + term
    flat = flat_total % F.lit(_P31)
    fold = F.aggregate(
        F.sequence(F.lit(1), length),
        F.lit(0).cast("long"),
        lambda h, i: (h * 31 + F.ascii(F.substring(col, i, F.lit(1))))
        % F.lit(_P31))
    # sequence(1, 0) counts DOWN — the L == 0 case lands in the flat
    # branch, where every term guards to 0 (hash 0, same as the fold's
    # empty-string value)
    return F.when(length <= _PH_FLAT_MAX, flat).otherwise(fold)


# 31^k mod (2^31-1) for k = 31..0 — the per-position weights of the
# 32-char polynomial below, precomputed as literals.
_MD5_POWS = [pow(31, k, _P31) for k in range(31, -1, -1)]


def portable_hash_md5(col: Column) -> Column:
    """``portable_hash(md5(col))`` as one FLAT polynomial: md5 hex is
    always exactly 32 chars, so the iterated fold
    ``h = (h·31 + c_i) mod p`` equals ``(Σ c_i · 31^(32−i)) mod p`` with
    the powers precomputed as literals (mod distributes over the sum;
    each term < 102·2^31 and the 32-term sum < 2^44 — exact in int64).
    The flat form stays inside whole-stage codegen and keeps the
    analyzer's expression tree shallow, where the `aggregate`
    higher-order fold in `portable_hash` is evaluated interpreted per
    element (a measured 25× single-task cliff at the sf1 rung).
    Bit-identical to `portable_hash(F.md5(col))` — equality is tested —
    so every oracle that inlines the DuckDB `list_reduce` fold is
    unaffected."""
    inner = _col_sql(col)
    if inner is not None:
        terms = " + ".join(
            f"CAST(ascii(substring(md5({inner}), {i + 1}, 1)) AS BIGINT)"
            f" * {w}" for i, w in enumerate(_MD5_POWS))
        return F.expr(f"({terms}) % {_P31}")
    hexd = F.md5(col)
    terms = [F.ascii(F.substring(hexd, i + 1, 1)).cast("long") * F.lit(w)
             for i, w in enumerate(_MD5_POWS)]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total % F.lit(_P31)


def perm_constants(n: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for the linear permutation family
    hash_i(x) = (a_i*x + b_i) mod 2^31-1, from a Lehmer LCG (x*48271 mod p)
    — a_i never 0 (multiplicative group of a prime). Same constants are
    inlined as literals into the oracle SQL."""
    x, out = seed, []
    for _ in range(2 * n):
        x = (x * 48271) % _P31
        out.append(x)
    return out[0::2], out[1::2]


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MINHASH_FAMILIES = ("crc32perm", "portable")
_SIMHASH_FAMILIES = ("xxhash64", "portable")


def _check_hash_params(hash_family: str, families: tuple[str, ...],
                       num_hashes: int | None = None,
                       bands: int | None = None) -> None:
    """Reject a hash family outside `families` — a typo would otherwise
    reach another family's branch and return its signatures — and a
    band split that does not cut `num_hashes` into equal rows."""
    if hash_family not in families:
        raise ValueError(f"hash_family must be one of {families} "
                         f"(got {hash_family!r})")
    if bands is not None and (bands < 1 or num_hashes % bands):
        raise ValueError(f"bands must be >= 1 and divide num_hashes "
                         f"(got num_hashes={num_hashes}, bands={bands})")


def _crcperm_from_sets(col, num_hashes: int):
    """crc32perm MinHash signature of each row's shingle set: zlib.crc32
    over the shingle's UTF-8 bytes (bit-identical to the JVM's
    java.util.zip.CRC32 behind `F.crc32`), then the permutation minima.
    NULL for a NULL or empty set."""
    data, off = K.string_parts(col.flatten())
    hb = K.crc_slices(data, off[:-1], off[1:])
    return K.min_signature(hb, K.list_lengths(col),
                           *perm_constants(num_hashes))


def _crcperm_from_tokens(col, k: int, num_hashes: int):
    """tokens → crc32perm MinHash signature with no shingle string built:
    each k-shingle is a byte range of the batch's joined tokens, so the
    signature costs one tokens transfer in and 8·num_hashes bytes out per
    doc.  Bit-identical to hashing `arrow_shingles` sets (the min over a
    shingle multiset equals the min over its set).  NULL for a doc with
    fewer than k tokens."""
    t = K.tokens_of(col)
    nwin, st, en = K.window_ranges(t, k)
    return K.min_signature(K.crc_slices(t.buf, st, en), nwin,
                           *perm_constants(num_hashes))


# Vectorized portable-hash power tables: pows[i] = 31^i mod p and
# ipows[i] = 31^-i mod p, grown on demand.  Construction is block-
# decomposed (pows[i] = big[i//B]·small[i%B] mod p) so growing to any
# length is a handful of numpy ops, never a per-index Python loop —
# the tables must reach the total shingle-char count of an Arrow batch.
_PH_POW_BLOCK = 4096
_PH_POW_TABS: list = [None, None]  # [pows, ipows] int64 arrays


def _ph_pow_tables(n: int):
    import numpy as np
    tabs = _PH_POW_TABS
    if tabs[0] is None or len(tabs[0]) < n:
        m = max(n, _PH_POW_BLOCK,
                2 * (0 if tabs[0] is None else len(tabs[0])))
        B = _PH_POW_BLOCK
        nblk = -(-m // B)
        ginv = pow(31, _P31 - 2, _P31)
        for slot, g in ((0, 31), (1, ginv)):
            small = np.empty(B, dtype=np.int64)
            v = 1
            for j in range(B):          # one-time, B steps
                small[j] = v
                v = (v * g) % _P31
            gB = pow(g, B, _P31)
            big = np.empty(nblk, dtype=np.int64)
            v = 1
            for j in range(nblk):        # m/B steps
                big[j] = v
                v = (v * gB) % _P31
            # big, small < p < 2^31 → product < 2^62, exact in int64
            tabs[slot] = (np.repeat(big, B)[:m] * np.tile(small, nblk)[:m]) \
                % _P31
    return tabs[0], tabs[1]


def _ph_hash_slices(cp, starts, ends):
    """portable_hash of each codepoint slice cp[s:e) — the fold
    h = (h·31 + c) mod p rewritten as ((S[e]−S[s]) mod p)·31^(e−1) mod p
    with S the prefix sum of c_m·31^(−m) mod p: term-exact in int64
    (cp < 2^21, table entries < 2^31 → products < 2^52/2^62; the cumsum
    of <2^31 terms stays exact far past any batch length).  Bit-identical
    to the char fold — property-tested incl. unicode/astral/empty."""
    import numpy as np
    L = len(cp)
    pows, ipows = _ph_pow_tables(L + 1)
    S = np.empty(L + 1, dtype=np.int64)
    S[0] = 0
    np.cumsum(cp * ipows[:L] % _P31, out=S[1:])
    S %= _P31
    # empty slice (e == s): diff is 0, so the wrapped pows index is moot
    return (S[ends] - S[starts]) % _P31 * pows[ends - 1] % _P31


def _portable_from_sets(col, num_hashes: int):
    """Portable-family MinHash signature of each row's shingle set: the
    batch's shingles decode to one codepoint array (Spark `ascii` per
    char, astral included) and `_ph_hash_slices` hashes them all in a
    few vector ops.  Bit-identical to the explode + portable_hash +
    32-min aggregation (`signature_portable_expr` in the tests)."""
    import numpy as np
    import pyarrow.compute as pc

    flat = col.flatten()
    cp = np.frombuffer(K.string_parts(flat)[0].tobytes().decode("utf-8")
                       .encode("utf-32-le"), dtype="<u4").astype(np.int64)
    ln = pc.utf8_length(flat).to_numpy(zero_copy_only=False).astype(np.int64)
    ends = np.cumsum(ln)
    starts = ends - ln
    return K.min_signature(_ph_hash_slices(cp, starts, ends),
                           K.list_lengths(col), *perm_constants(num_hashes))


def _signature_from_sets(sets_: DataFrame, num_hashes: int,
                         hash_family: str) -> DataFrame:
    """MinHash signatures from a precomputed (id, shset) frame — split
    out so minhash_lsh_pairs can reuse ONE persisted shingle pass for
    both the signature and the verify join (one corpus scan, not two).

    Both families compute the whole signature in one Arrow pass per doc
    — no explode, no groupBy, no exchange (5M-doc rung: see
    SCALING.md) — with the linear permutations hash_i(s) =
    (a_i·base(s) + b_i) mod 2^31-1 (Broder 1997, datasketch-style).
    "crc32perm" takes crc32 as the base, which zlib and the JVM compute
    identically; "portable" takes the oracle-reproducible char fold so
    DuckDB can re-derive signatures value-for-value (q67).  Both are
    bit-identical to JVM explode+agg references (tests)."""
    # Zero-shingle docs are dropped with a NATIVE pre-filter, never by
    # filtering the UDF's output: Catalyst pushes a filter on a
    # UDF-computed column below the projection by DUPLICATING the
    # ArrowEvalPython node (guide §4.4) — the r9 qb0 plan ran _sig_fn
    # TWICE per row (ops 10/13 in plans/r10/qb0_..._before.txt).
    # size(shset) > 0 is exactly the condition under which the UDFs
    # return a non-null signature, so output is identical.
    kernel = (_crcperm_from_sets if hash_family == "crc32perm"
              else _portable_from_sets)
    sig_udf = K.arrow_kernel(kernel, "array<long>", num_hashes)
    return (sets_.filter(F.size("shset") > 0)
            .select("id", sig_udf(F.col("shset")).alias("signature")))


def band_buckets(sig: DataFrame, bands: int, r: int,
                 hash_family: str = "crc32perm") -> DataFrame:
    """(id, band, bucket) rows from an (id, signature) frame — the LSH
    banding step, shared by the self-join path (minhash_lsh_pairs) and
    the incremental new-vs-index path (incremental.minhash_against).

    The crc32perm family buckets on xxhash64(band, sig slice) — a
    hashable bigint key; the portable family buckets on the raw r-value
    slice (array equality) so the whole construction stays
    oracle-reproducible."""
    _check_hash_params(hash_family, _MINHASH_FAMILIES)
    # One-parse construction (VERDICT r9 #6, the q36 col_sql lesson):
    # the Column-API form of this banding (bands × (lit + r getItem +
    # hash) builder calls) cost ~0.16 s of synchronous py4j round trips
    # per query CONSTRUCTION at bands=16 — a third of q36's off-plan
    # driver time.  The SQL text parses in one call and resolves to the
    # identical expression tree: integer literals ≤ 2³¹ parse as INT
    # exactly like F.lit(int), and signature[i] is the same 0-based
    # GetArrayItem (bit-parity pinned by test_band_buckets_one_parse).
    if hash_family == "portable":
        bexpr = [f"array({', '.join(f'signature[{bi * r + j}]' for j in range(r))})"
                 for bi in range(bands)]
    else:
        bexpr = [f"xxhash64({bi}, "
                 f"{', '.join(f'signature[{bi * r + j}]' for j in range(r))})"
                 for bi in range(bands)]
    return sig.selectExpr(
        "id", f"posexplode(array({', '.join(bexpr)})) AS (band, bucket)")


def minhash_signature(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 3, num_hashes: int = 32,
                      hash_family: str = "crc32perm") -> DataFrame:
    """Per-doc MinHash signature; signature[i] = min over shingles of
    hash_i(shingle).  Stateless per row — no aggregation, no shuffle —
    so it runs unchanged under Structured Streaming
    (streaming.stream_minhash_against).

    hash_family="crc32perm" (default): the linear-permutation family
    (a_i·crc32(s)+b_i mod 2^31-1), computed in ONE fused Arrow pass per
    doc over byte-slice shingles — no shingle strings materialize; a
    JVM expression twin + a from-sets Arrow form exist for bit-parity
    testing. "portable": the same permutation family over the
    char-fold base the DuckDB oracle can re-derive, so the whole
    signature is value-checked (q67)."""
    _check_hash_params(hash_family, _MINHASH_FAMILIES)
    if hash_family == "crc32perm":
        sig_udf = K.arrow_kernel(_crcperm_from_tokens, "array<long>", k,
                               num_hashes)
        # native token-count pre-filter == the UDF's null condition
        # (n_tokens < k); filtering the UDF output instead makes
        # Catalyst evaluate the UDF twice (guide §4.4, see
        # _signature_from_sets)
        return (_spread(df)
                .filter(F.size(tokens(F.col(text_col))) >= k)
                .select(F.col(id_col).alias("id"),
                        sig_udf(tokens(F.col(text_col)))
                        .alias("signature")))
    return _signature_from_sets(_shingle_sets(df, id_col, text_col, k),
                                num_hashes, hash_family)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 3, num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5, verify: bool = True,
                      hash_family: str = "crc32perm",
                      unique_lift: bool | None = None,
                      star_intra: bool = False,
                      bucket_cap: int | str | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH; same-band candidates are
    (optionally) verified with exact shingle Jaccard ≥ threshold.

    rows-per-band buckets: r = num_hashes/bands; candidate recall follows
    the usual 1-(1-s^r)^b curve. Only bucket-mates are joined — at 100 TB
    the band shuffle replaces the quadratic comparison.

    hash_family="crc32perm" (default) buckets on xxhash64 of each band's
    signature slice; "portable" buckets on the raw r-value slice (array
    equality), keeping the entire pipeline oracle-reproducible (q69)."""
    _check_hash_params(hash_family, _MINHASH_FAMILIES, num_hashes, bands)
    # The unique-text lift that pays off 3× for ngram_jaccard_pairs was
    # measured 7× SLOWER here at UNIFORM 10-member clusters (42 s vs 6 s
    # at sf1, 90% dups): banded LSH is already ~linear in duplicate
    # density.  But a GIANT clique of identical docs is different in
    # kind: c identical texts put c identical signatures in the same
    # bucket of EVERY band, so the bucket self-join emits bands·c²/2
    # candidate rows (10k clique × 8 bands = 400M) before verify.  The
    # lift collapses the clique to one representative and emits its c²/2
    # member pairs ONCE, directly, with no verify — so auto (None)
    # engages it only on the estimated-max-cluster trigger, never on
    # plain dup density (exactly the opposite gate from jaccard's).
    if unique_lift is None:
        unique_lift = _dup_stats(df, id_col, text_col)[1] >= 256
    if unique_lift:
        return _unique_text_lift(
            df, id_col, text_col, k,
            lambda rep_df: minhash_lsh_pairs(
                rep_df, id_col, text_col, k=k, num_hashes=num_hashes,
                bands=bands, threshold=threshold, verify=verify,
                hash_family=hash_family, unique_lift=False,
                bucket_cap=bucket_cap),
            val_col="jaccard" if verify else None, star=star_intra)
    r = num_hashes // bands
    # ONE shingle pass feeds both the signature aggregation and (when
    # verifying) the exact-Jaccard join — at 100 TB this halves the
    # corpus scans; the persisted set frame is ~1-2% of corpus bytes
    sets_ = _shingle_sets(df, id_col, text_col, k)
    if verify:
        sets_ = scratch.register(sets_.persist())
    sig = _signature_from_sets(sets_, num_hashes, hash_family)
    banded = band_buckets(sig, bands, r, hash_family)
    # both sides of the bucket self-join read `banded` — persist so the
    # signature aggregation runs once, and co-partition by bucket so the
    # join parallelizes instead of broadcasting into one task
    p = df.sparkSession.sparkContext.defaultParallelism
    banded = scratch.register(
        banded.repartition(p, "band", "bucket").persist())
    if bucket_cap == "auto":
        # size the cap from the banded frame's own bucket histogram —
        # one agg over the persisted frame; None → exact-recall path
        bucket_cap = _auto_cap(banded.groupBy("band", "bucket").count())
    if bucket_cap:
        # hot-BUCKET skew guard (deliberately lossy, like jaccard's
        # df_cap): a band bucket holding b docs self-joins into b²/2
        # candidate rows, and shared boilerplate can put thousands of
        # DIFFERENT-text docs in one bucket (identical-text cliques are
        # already collapsed by the unique-text lift). Dropping buckets
        # over the cap bounds every bucket's fanout; a dropped pair can
        # still surface through any of its other bands, so recall decays
        # gracefully rather than cliff-ing. Leave None for exact-recall
        # candidate generation.
        hot = (banded.groupBy("band", "bucket").count()
               .filter(F.col("count") > bucket_cap)
               .select("band", "bucket"))
        banded = banded.join(F.broadcast(hot), ["band", "bucket"],
                             "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b.hint("shuffle_hash"),
                   (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.bucket") == F.col("b.bucket")) &
                   (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .repartition(p, "id_a", "id_b").distinct())
    if not verify:
        return cand
    return verify_pairs_jaccard(df, cand, id_col, text_col, k, threshold,
                                sets=sets_)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str = "text",
            bits: int = 64, hash_family: str = "xxhash64") -> DataFrame:
    """SimHash per doc, fully native: explode tokens, hash each,
    per-bit ±1 sums, sign → bit. One shuffle (groupBy id).

    hash_family="xxhash64" (default, 64-bit); "portable" uses the 31-bit
    oracle-reproducible hash (requires bits <= 31; q68)."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    tok = _spread(df).select(F.col(id_col).alias("id"),
                             F.explode(tokens(F.col(text_col))).alias("t"))
    if hash_family == "portable":
        if bits > 31:
            raise ValueError("portable hash family is 31-bit; pass bits<=31")
        h = portable_hash(F.col("t"))
    else:
        h = F.xxhash64(F.col("t"))
    # One-parse construction (VERDICT r9 #6): the Column-API form of the
    # per-bit sums + OR chain was ~750 synchronous py4j builder calls at
    # bits=64 (~0.5 s per CONSTRUCTION — the dominant cost of the
    # 5-doc simhash tests and a third of q37's driver time).  The SQL
    # texts parse to the identical trees: shiftleft(CAST(1 AS BIGINT),i)
    # ≡ F.shiftleft(F.lit(1).cast("long"), i) (never a python 1<<63
    # literal, which overflows a JVM long), & ≡ bitwiseAND, CASE ≡
    # F.when.otherwise with the same INT literals.  Parity pinned by
    # test_simhash_one_parse_bit_parity.
    hashed = tok.select("id", h.alias("__h"))
    bit_sums = [F.expr(
        f"sum(CASE WHEN (__h & shiftleft(CAST(1 AS BIGINT), {i})) != 0 "
        f"THEN 1 ELSE -1 END)").alias(f"b{i}") for i in range(bits)]
    agg = hashed.groupBy("id").agg(*bit_sums)
    sig = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(bits))
    return agg.selectExpr("id", f"({sig}) AS simhash")


def simhash_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                  max_hamming: int = 3,
                  unique_lift: bool | None = None,
                  star_intra: bool = False,
                  bits: int = 64,
                  hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, blocked on
    four ceil(bits/4)-bit bands (any pair within hamming 3 shares ≥1
    exact band; above 3 recall follows the banded-LSH curve — the
    blocking, not just the signature, is part of the operator's
    contract and is mirrored verbatim in the q37 oracle SQL).

    hash_family="portable" (31-bit char-fold hash, bits<=31) makes the
    WHOLE pipeline — signature, band keys, candidate join, hamming —
    bit-reproducible in ANSI SQL, so q37 is value-checked end-to-end
    (VERDICT r8 #3); "xxhash64" (default) is the 64-bit deploy family.

    Giant-clique guard (same reasoning as minhash_lsh_pairs): c identical
    texts share every band key, so the banded self-join emits 4·c²/2
    candidate rows; `unique_lift=None` auto-engages the unique-text lift
    on the estimated-max-cluster trigger (identical texts → identical
    simhash → intra hamming exactly 0, inter pairs carry the reps'
    hamming — output provably identical)."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    if unique_lift is None:
        unique_lift = _dup_stats(df, id_col, text_col)[1] >= 256
    if unique_lift:
        # k=1: a cluster emits intra pairs iff its text has ≥1 token —
        # matching the direct path, where an empty token list aggregates
        # no bit sums and the doc never enters the banded join
        return _unique_text_lift(
            df, id_col, text_col, 1,
            lambda rep_df: simhash_pairs(rep_df, id_col, text_col,
                                         max_hamming, unique_lift=False,
                                         bits=bits,
                                         hash_family=hash_family),
            val_col="hamming", val_lit=0, star=star_intra)
    # both sides of the banded self-join read the signatures
    sig = scratch.register(simhash(df, id_col, text_col, bits=bits,
                                   hash_family=hash_family).persist())
    width = -(-bits // 4)  # ceil: 16 for 64-bit, 8 for the 31-bit family
    mask = (1 << width) - 1
    banded = sig.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), width * i)
            .bitwiseAND(F.lit(mask)) for i in range(4)])).alias("band", "key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.key") == F.col("b.key")) &
                   (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("a.simhash").alias("sig_a"),
                    F.col("b.id").alias("id_b"), F.col("b.simhash").alias("sig_b"))
            .distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def hyperplane_bucket(vec_col: str, dim: int, n_planes: int = 8,
                      seed: int = 42) -> Column:
    """Random-hyperplane sign-bucket Column for an array<float/double>
    vector: bit i = sign of ⟨v, plane_i⟩, planes drawn deterministically
    from `seed`.  Shared by the self-join blocker
    (embedding_neardup_pairs) and the incremental new-vs-index path
    (incremental.embedding_against) — both sides MUST use the same
    (dim, n_planes, seed) for buckets to be comparable.

    r9 evaluation shape: the original `aggregate(zip_with(...))` fold
    is CodegenFallback — interpreted per ELEMENT per plane (dim ×
    n_planes lambda steps per row, the portable_hash cliff class).
    `dim` is a declared parameter, so rows whose vector has exactly
    that size take a FLAT unrolled dot product (element_at × double
    literal, left-associated adds = the fold's exact summation order —
    0.0+x differs from x only on -0.0, which cannot flip `> 0`), fully
    inside whole-stage codegen; other shapes (short/long/NULL vectors)
    keep the fold branch verbatim, so output is bit-identical on every
    input (property-tested).  The whole expression is ONE parsed SQL
    string — the Column-API construction would be ~4k py4j calls."""
    import numpy as np

    from juliadb_jl_spark.functions._exprutil import dlit
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    v = "`" + vec_col.replace("`", "``") + "`"

    def _bit(dot_sql: str, i: int) -> str:
        return f"(CASE WHEN ({dot_sql}) > 0 THEN {1 << i} ELSE 0 END)"

    flat_bits, fold_bits = [], []
    for i in range(n_planes):
        lits = [dlit(x) for x in planes[i]]
        flat = " + ".join(f"(element_at({v}, {j + 1}) * {w})"
                          for j, w in enumerate(lits))
        fold = (f"aggregate(zip_with({v}, array({', '.join(lits)}), "
                f"(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)")
        flat_bits.append(_bit(flat, i))
        fold_bits.append(_bit(fold, i))
    return F.expr(
        f"CASE WHEN size({v}) = {dim} THEN {' | '.join(flat_bits)} "
        f"ELSE {' | '.join(fold_bits)} END")


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.95,
                            n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, LSH-blocked by random
    hyperplane sign buckets (deterministic planes from `seed`), verified
    exactly. Pairs in different buckets are missed — standard recall/cost
    trade; raise n_planes for precision, lower for recall."""
    from juliadb_jl_spark.functions.similarity import cosine_expr

    head = df.select(vec_col).head(1)
    if not head:  # empty corpus: no pairs, keep the output schema
        return df.sparkSession.createDataFrame(
            [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, "
                "cosine double")
    dim = len(head[0][0])
    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      hyperplane_bucket(vec_col, dim, n_planes, seed)
                      .alias("bucket"))
    # co-partition by bucket (same guard as the jaccard/minhash siblings):
    # the self-join fans out from a byte-small keyed frame, and without an
    # explicit shuffle AQE would broadcast it and run the O(pairs-per-
    # bucket) expansion in a single task
    p = df.sparkSession.sparkContext.defaultParallelism
    keyed = keyed.repartition(p, "bucket")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(b.hint("shuffle_hash"),
                  (F.col("a.bucket") == F.col("b.bucket")) &
                  (F.col("a.id") < F.col("b.id")))
    cos = cosine_expr(F.col("a.v"), F.col("b.v"), dim)
    return (cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                        cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


# ---------------------------------------------------------------------------
# Exact substring deduplication (verbatim k-token window matching)
# ---------------------------------------------------------------------------
# The Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") operation: find text spans repeated VERBATIM across documents
# and cut every occurrence except one. Suffix arrays don't distribute;
# the equivalent distributed shape is rolling k-token window fingerprints:
# a duplicated span of length >= k contains a duplicated k-window, and
# removing all duplicated k-windows (merged into maximal spans) removes
# every cross-document verbatim repetition of length >= k.


_POLY64_P = 1099511628211  # FNV-1a prime (odd → bijective step mod 2^64)


def _window_fps_batch(col, k: int, fmt: str):
    """struct<fps, poss> per doc: each k-token window's fingerprint and
    1-based position ([] for a doc with fewer than k tokens).  hex/bin:
    md5 of the window's bytes, identical to the JVM's
    md5(concat_ws(" ", slice(tokens, i, k))); u64: the sliding
    polynomial Σ crc32(t_{i+j})·p^{k-1-j} mod 2^64 over per-token crc32,
    no per-window hash call."""
    import numpy as np
    import pyarrow as pa
    t = K.tokens_of(col)
    nwin, g = K.windows(t.ntok, k)
    if fmt == "u64":
        base = K.crc_slices(t.buf, t.st, t.en).astype(np.uint64)
        fps = pa.array(K.poly_windows(base, g, k, _POLY64_P).view(np.int64))
    else:
        d = K.md5_slices(t.buf, t.st[g], t.en[g + k - 1])
        fps = (K.fixed_strings(d, 16, pa.binary()) if fmt == "bin"
               else K.fixed_strings(d.hex().encode("ascii"), 32))
    return K.struct_of_lists(nwin, fps=fps,
                             poss=pa.array(K.positions(nwin)))


def _window_fp_set_batch(col, k: int):
    """Per-doc DISTINCT raw md5 window digests (array<binary>)."""
    import numpy as np
    import pyarrow as pa
    t = K.tokens_of(col)
    nwin, st, en = K.window_ranges(t, k)
    d = np.frombuffer(K.md5_slices(t.buf, st, en), dtype="<u8") \
        .reshape(-1, 2)
    doc, a, b = K.doc_unique(K.row_index(nwin), d[:, 0], d[:, 1])
    return K.list_array(np.bincount(doc, minlength=len(nwin)),
                        K.fixed_strings(np.column_stack([a, b]).tobytes(),
                                        16, pa.binary()))


def _winnow_batch(col, k: int, w: int):
    """struct<fps, poss> per doc: the winnowed subset of the hex md5
    window fingerprints — the minimum of every run of w consecutive
    windows (ties → leftmost), deduplicated, in position order."""
    import numpy as np
    import pyarrow as pa
    t = K.tokens_of(col)
    nwin, st, en = K.window_ranges(t, k)
    # hex digests are ascii: S32 bytes order == str order
    a = np.frombuffer(K.md5_slices(t.buf, st, en).hex().encode("ascii"),
                      dtype="S32")
    win0 = np.cumsum(nwin) - nwin
    runs = np.maximum(nwin - (w - 1), 0)
    s = np.repeat(win0, runs) + K.positions(runs) - 1
    m, idx = a[s], s
    for off in range(1, w):
        b = a[s + off]
        take = b < m          # strict: ties keep leftmost
        m = np.where(take, b, m)
        idx = np.where(take, s + off, idx)
    # a selection's pos determines its fp, so distinct (fp, pos) ==
    # distinct pos — one vectorized unique over the batch
    u = np.unique(idx)
    doc = K.row_index(nwin)[u]
    return K.struct_of_lists(
        np.bincount(doc, minlength=len(nwin)),
        fps=K.fixed_strings(a[u].tobytes(), 32),
        poss=pa.array((u - win0[doc] + 1).astype(np.int32)))


def _check_window_k(k: int) -> None:
    # k < 1 has no k-token windows; the byte-slice and strided builders
    # would emit digests of empty or wrapped slices instead of failing
    if k < 1:
        raise ValueError(f"need window size k >= 1 (got {k})")


def _window_fps(df: DataFrame, id_col: str, text_col: str, k: int,
                fmt: str = "hex") -> DataFrame:
    """(id, pos, fp): fingerprint of each k-token window (1-based
    pos). md5 keeps the oracle portable; swap a cheaper family at
    deploy scale — the plan shape is identical.

    ``fmt="bin"`` emits the 16 raw digest bytes instead of the 32-char
    hex string — same equality semantics, half the shuffle width; use
    it wherever the fp never leaves the plan (duplicate_spans), and
    keep hex where the fp IS the artifact (substring_index).
    ``fmt="u64"`` goes further: an 8-byte int64
    fp from crc32-per-token + a vectorized sliding polynomial
    (`_window_fps_batch`) — no per-window hash call and half bin's
    exchange bytes, at a ~2.6e-3 per-corpus collision probability at
    the 309M-window rung (vs ~0 for md5): acceptable where the fp
    only ever feeds span DETECTION, wrong where it is a persisted
    artifact.

    One build: a fused Arrow pass (`_window_fps_batch`), each window a
    byte range of the batch's joined tokens. The interpreted
    `transform`+`slice`+`concat_ws` form it replaced is the bit-parity
    reference in the tests (SCALING.md "Fingerprint builders: one
    fused path")."""
    from juliadb_jl_spark.functions.text import tokens

    _check_window_k(k)
    if fmt not in ("hex", "bin", "u64"):
        raise ValueError(f"fmt must be 'hex', 'bin' or 'u64' "
                         f"(got {fmt!r})")
    ftype = {"hex": "string", "bin": "binary", "u64": "long"}[fmt]
    fps = K.arrow_kernel(_window_fps_batch,
                         f"struct<fps:array<{ftype}>,poss:array<int>>",
                         k, fmt)
    return (_spread(df)
            .select(F.col(id_col).alias("id"),
                    fps(tokens(F.col(text_col))).alias("r"))
            .select("id", F.explode(F.arrays_zip("r.fps", "r.poss"))
                    .alias("s"))
            .select("id", F.col("s.poss").alias("pos"),
                    F.col("s.fps").alias("fp")))


def _window_fp_set(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Per-doc DISTINCT k-window fingerprints as bare (fp) rows of 16
    raw md5 digest bytes — the index-build sibling of `_window_fps` for
    consumers that need neither positions nor per-occurrence rows
    (substring_index). One flat array column crosses Arrow, and the raw
    bytes let the downstream distinct exchange move half the key bytes
    of the hex form."""
    from juliadb_jl_spark.functions.text import tokens
    _check_window_k(k)
    fps = K.arrow_kernel(_window_fp_set_batch, "array<binary>", k)
    return (_spread(df)
            .select(fps(tokens(F.col(text_col))).alias("fps"))
            .select(F.explode("fps").alias("fp")))


def duplicate_spans(df: DataFrame, id_col: str, text_col: str = "text",
                    k: int = 50, merge: bool = True,
                    within_doc: bool = False,
                    fp_fmt: str = "u64") -> DataFrame:
    """Maximal duplicated spans: for every fingerprint seen more than
    once, each occurrence outside the keeper is a duplicated k-window;
    overlapping/adjacent windows merge into maximal
    (id, span_start, span_end) token spans (end exclusive).

    The keeper is the lowest-id document (cross-document dedup); with
    `within_doc=True` it is the earliest (id, pos) occurrence, so
    repetitions INSIDE a document are spans too.

    Scale: ONE fused-Arrow window build + ONE fp exchange — the keeper
    election is a window function (min over the fp group) on the
    fp-partitioned stream, so each occurrence row carries its group's
    keeper without a join back, and the window build is never
    recomputed. NO pairwise self-join anywhere, so a boilerplate
    window shared by a million docs costs O(occurrences), not
    O(occurrences²); the sort-based window exec spills instead of
    building per-task hash maps (the r6 UNABLE_TO_ACQUIRE_MEMORY
    class), and a giant fp group only grows one spillable buffer.
    Fingerprints default to ``fp_fmt="u64"`` (r8, VERDICT r7 #6): an
    8-byte int64 poly-crc window fp — no per-window md5 call in the
    build and half the exchange key bytes of the md5 form, measured
    same-session at the 5M rung as −42% wall / −22% CPU vs
    ``fp_fmt="bin"`` (the 16-raw-md5-byte differential twin, kept).
    The price is a ~2.6e-3 per-CORPUS collision probability at the
    309M-window rung (≈ one false duplicated k-window corpus-wide,
    quadratic in window count: a few expected at 10^10 windows).
    For DETECTION consumers (audits, reports, qa-style span counts) a
    collision costs one spurious span.  For REWRITE consumers the
    spans feed `cut_spans`, which deletes the flagged tokens from the
    output corpus — there a collision destroys a real k-token window,
    which is why `dedup_substrings`/`dedup_substrings_multi` default
    to ``fp_fmt="bin"`` (collision-free md5) and only opt into u64
    explicitly; keep ``fp_fmt="bin"`` anywhere a false span would be
    an artifact defect rather than a report blemish.
    A/B rung numbers: SCALING.md. `id !=
    min(id)` implies the fp occurs >= 2 times and (id, pos) rows are
    unique, so no count and no distinct are needed. Span merge is a
    per-doc window (classic island detection), shuffling only the
    duplicated windows.

    Plan history: the r6 shape was groupBy(fp) + join-back, which
    priced a SECOND Arrow gram build (~70 s at the 5M rung) plus a
    corpus-sized sort-merge join; the window form halves the builds
    and removes the join (current rung numbers: the duplicate_spans
    rows of the SCALING.md table / BENCH_DOCS artifact — the tracked
    source of truth, not this docstring)."""
    from pyspark.sql import Window
    if fp_fmt not in ("bin", "u64"):
        raise ValueError(f"fp_fmt must be 'bin' or 'u64' (got {fp_fmt!r})")
    p4 = 4 * df.sparkSession.sparkContext.defaultParallelism
    w = (_window_fps(df, id_col, text_col, k, fmt=fp_fmt)
         .repartition(p4, "fp"))
    grp = Window.partitionBy("fp")
    if within_doc:
        dup = (w.withColumn("__k", F.min(F.struct("id", "pos")).over(grp))
               .filter((F.col("id") != F.col("__k.id")) |
                       (F.col("pos") != F.col("__k.pos")))
               .select("id", F.col("pos").alias("span_start"),
                       (F.col("pos") + k).alias("span_end")))
    else:
        dup = (w.withColumn("__keep", F.min("id").over(grp))
               .filter(F.col("id") != F.col("__keep"))
               .select("id", F.col("pos").alias("span_start"),
                       (F.col("pos") + k).alias("span_end")))
    if not merge:
        return dup
    return merge_spans(dup, id_col)


def merge_spans(dup: DataFrame, id_col: str) -> DataFrame:
    """Merge overlapping/adjacent (id, span_start, span_end) windows
    into maximal spans — classic island detection as a per-doc window,
    shuffling only the duplicated windows.  Shared by the one-shot
    (duplicate_spans) and incremental (incremental.duplicate_spans_
    against) span generators."""
    from pyspark.sql import Window
    win = Window.partitionBy("id").orderBy("span_start")
    prev_end = F.max("span_end").over(
        win.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        F.when(F.col("span_start") > F.coalesce(prev_end, F.lit(-1)), 1)
        .otherwise(0)).over(win)
    return (dup.withColumn("__i", island)
            .groupBy("id", "__i")
            .agg(F.min("span_start").alias("span_start"),
                 F.max("span_end").alias("span_end"))
            .select(F.col("id").alias(id_col), "span_start", "span_end"))


def dedup_substrings(df: DataFrame, id_col: str, text_col: str = "text",
                     k: int = 50, within_doc: bool = False,
                     out_col: str | None = None,
                     fp_fmt: str = "bin") -> DataFrame:
    """Exact substring dedup: cut every cross-document verbatim span of
    >= k tokens, keeping the occurrence in the lowest-id document
    (earliest in-document occurrence too when `within_doc=True`).
    Rewrites `text_col` (or `out_col`) as the surviving tokens joined
    with single spaces — token-level reconstruction, documented
    divergence from raw byte slicing.

    ``fp_fmt`` defaults to ``"bin"`` (collision-free md5), NOT
    `duplicate_spans`' u64 default: this path REWRITES text, so a u64
    fp collision would delete a real k-token window from the output
    corpus rather than merely report a spurious span (ADVICE r8).
    Pass ``fp_fmt="u64"`` explicitly to trade that (~2.6e-3 per corpus
    at the 309M-window rung, quadratic) for the −42%-wall rung win.

    Scale: spans are tiny relative to the corpus; they come back as one
    per-doc array via a left join, and the cut is a per-row native
    filter over token positions."""
    spans = duplicate_spans(df, id_col, text_col, k,
                            within_doc=within_doc, fp_fmt=fp_fmt)
    return cut_spans(df, spans, id_col, text_col, out_col)


def cut_spans(df: DataFrame, spans: DataFrame, id_col: str,
              text_col: str, out_col: str | None = None) -> DataFrame:
    """Apply an (id, span_start, span_end) token-span table to the
    text: surviving tokens rejoined with single spaces; untouched docs
    keep their original bytes.  Shared by the one-shot and incremental
    substring-dedup paths."""
    from juliadb_jl_spark.functions.text import tokens
    out_col = out_col or text_col
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    # plain left join — the span table is usually small enough that AQE
    # broadcasts it, but forcing broadcast would be wrong for heavily
    # duplicated corpora where spans are GB-scale
    joined = df.join(sp, id_col, "left")
    toks = tokens(F.col(text_col))
    def kept(x, i):
        covered = F.exists(
            "__spans", lambda s: (i + 1 >= s["span_start"]) &
                                 (i + 1 < s["span_end"]))
        return ~covered
    cut = F.concat_ws(" ", F.filter(toks, kept))
    return (joined.withColumn(
        out_col, F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(cut)).drop("__spans"))


def dedup_substrings_multi(df: DataFrame, id_col: str,
                           text_col: str = "text",
                           ks: tuple[int, ...] = (50, 20),
                           within_doc: bool = False,
                           out_col: str | None = None,
                           fp_fmt: str = "bin") -> DataFrame:
    """Composed substring-dedup passes at decreasing window sizes —
    the documented answer to the single-pass recall bound (SCALING.md):
    a k-window pass cuts every duplicated span of >= k tokens and none
    shorter, so running again at a smaller k on the SURVIVORS extends
    recall down to min(ks) while each pass stays one explode + groupBy
    + join (no pairwise work). Shorter windows trade false-positive
    risk explicitly (short n-grams repeat by chance) — callers choose
    the ladder. Passes must descend: an ascending k would re-find spans
    the previous pass already cut.  ``fp_fmt`` defaults to ``"bin"``
    for the same reason as `dedup_substrings`: every pass rewrites
    text, so fp collisions would cut real tokens (ADVICE r8).

    At 100 TB each pass is a full corpus rewrite — materialize between
    passes (parquet at deploy scale); here the composition itself is
    lazy and the caller decides the barrier."""
    if list(ks) != sorted(ks, reverse=True) or len(set(ks)) != len(ks):
        raise ValueError(f"ks must be strictly decreasing, got {ks}")
    out_col = out_col or text_col
    cur = df
    col = text_col
    for k in ks:
        cur = dedup_substrings(cur, id_col, col, k=k,
                               within_doc=within_doc, out_col=out_col,
                               fp_fmt=fp_fmt)
        col = out_col
    return cur


def embedding_pairs_exact(df: DataFrame, id_col: str, vec_col: str,
                          threshold: float = 0.95,
                          margin: float = 1e-6) -> DataFrame:
    """ALL cosine-≥-threshold pairs, exactly. O(n²) by nature — the
    oracle-checkable baseline for `embedding_neardup_pairs` (the LSH
    variant is the deploy-scale path); use on bounded corpora (eval
    sets, per-cluster refinement).

    Shape: candidate generation is one blocked float64 matmul per input
    partition against the broadcast corpus matrix (threshold padded by
    `margin` so BLAS summation reassociation can never drop a boundary
    pair); the survivors — O(matching pairs), not O(n²) — are then
    verified with the same sequential-fold native cosine the SQL oracle
    computes, so emitted values are bit-identical with the pure-Column
    path. A naive crossJoin evaluates the interpreted HOF cosine n²
    times on however few partitions the scan produced (observed: 20k
    vectors = 400M evals on 2 tasks, >15 min; this shape is seconds).
    Bound: the corpus matrix (n×d float64) must fit in executor memory
    (1M×256 ≈ 2 GiB) — beyond that use embedding_neardup_pairs."""
    import numpy as np
    import pandas as pd
    from juliadb_jl_spark.functions.similarity import cosine_expr

    spark = df.sparkSession
    keyed = df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    pdf = keyed.toPandas()
    id_t = df.schema[id_col].dataType.simpleString()
    if pdf.empty:
        return spark.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cosine double")
    all_ids = pdf["id"].to_numpy()
    M = np.array([np.asarray(v, dtype="float64") for v in pdf["v"]])
    Mn = M / (np.linalg.norm(M, axis=1, keepdims=True) + 1e-300)
    bc = spark.sparkContext.broadcast((all_ids, Mn))
    thr = threshold - margin

    def gen(batches):
        bids, bM = bc.value
        for p in batches:
            if not len(p):
                continue
            B = np.array([np.asarray(v, dtype="float64") for v in p["v"]])
            Bn = B / (np.linalg.norm(B, axis=1, keepdims=True) + 1e-300)
            mask = (Bn @ bM.T >= thr) & \
                (p["id"].to_numpy()[:, None] < bids[None, :])
            r, c = np.nonzero(mask)
            yield pd.DataFrame({"id_a": p["id"].to_numpy()[r],
                                "id_b": bids[c]})

    par = spark.sparkContext.defaultParallelism
    cand = keyed.repartition(par).mapInPandas(gen, f"id_a {id_t}, id_b {id_t}")
    va = keyed.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = keyed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (cand.join(F.broadcast(va), "id_a").join(F.broadcast(vb), "id_b")
            .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb"),
                                              int(Mn.shape[1])))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.95, n_planes: int = 8,
                   seed: int = 42, exact: bool = False) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop every document whose
    embedding sits in a cosine-≥-threshold duplicate cluster, keeping the
    smallest-id representative per cluster (Abbas et al. 2023 semantics,
    with deterministic representative choice).

    Composition: near-dup pair generation (hyperplane-LSH-blocked with
    exact cosine verify; `exact=True` switches to the brute-force pair
    generator for oracle baselines) → large-star/small-star connected
    components → one anti-join. The corpus itself is never shuffled —
    only ids and embeddings move."""
    pairs = (embedding_pairs_exact(df, id_col, vec_col, threshold)
             if exact else
             embedding_neardup_pairs(df, id_col, vec_col, threshold,
                                     n_planes, seed))
    return dedup_by_clusters(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over candidate pairs)
# ---------------------------------------------------------------------------
# Any of the pair generators above (jaccard / minhash / simhash / embedding)
# emits an undirected "is-duplicate-of" edge list; deduplication needs the
# transitive closure: A~B and B~C puts all three in one cluster even if A,C
# were never compared. Computed with the alternating large-star / small-star
# MapReduce algorithm (Kiveris et al., "Connected Components in MapReduce
# and Beyond", SoCC'14): converges in O(log^2 n) rounds (2-3 in practice for
# dedup graphs, which are unions of near-cliques), every round is one
# groupBy-min plus one join — no collect_list of neighbor sets, so a hot
# node with millions of neighbors never materializes its adjacency in one
# task. Each round's edge set is persisted and localCheckpoint'd to truncate
# the lineage (iterative plans otherwise grow exponentially).


def connected_components(pairs: DataFrame, a: str = "id_a", b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns (node, component) for every node that appears in `pairs`,
    where `component` is the smallest node id in that node's component
    (component minima map to themselves).
    """
    edges = (pairs.select(F.col(a).cast("long").alias("u"),
                          F.col(b).cast("long").alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    members = (edges.select(F.col("u").alias("node"))
               .union(edges.select(F.col("v").alias("node"))).distinct()
               .persist())
    members.count()

    def large_star(e: DataFrame) -> DataFrame:
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        return (und.join(mins, "u").filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        dird = e.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
        mins = dird.groupBy("u").agg(F.min("v").alias("m"))
        out = (dird.join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .union(mins.select(F.col("u"), F.col("m").alias("v"))))
        return out.filter(F.col("u") != F.col("v")).distinct()

    def drop(df: DataFrame) -> None:
        # a local checkpoint's blocks belong to the RDD under its
        # LogicalRDD, which DataFrame.unpersist does not reach
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)

    cur = edges.persist()
    prev_sig = None
    try:
        for _ in range(max_iter):
            # lazy checkpoint: the signature agg below materializes it,
            # so each round is ONE job (eager would run a second job)
            nxt = small_star(large_star(cur)).localCheckpoint(eager=False)
            sig = nxt.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")),
                           F.lit(0)).alias("h")
            ).collect()[0]
            drop(cur)
            cur = nxt
            if prev_sig == (sig["n"], sig["h"]):
                break
            prev_sig = (sig["n"], sig["h"])
        else:
            raise RuntimeError(f"connected_components did not converge "
                               f"in {max_iter} rounds")
    except BaseException:
        drop(cur)
        members.unpersist()
        raise

    # At the fixpoint the edges form stars (node -> component min); centers
    # (the minima) appear only on the right, so default them to themselves.
    labels = (members.join(cur.withColumnRenamed("u", "node"), "node", "left")
              .select("node",
                      F.coalesce("v", "node").alias("component")))
    members.unpersist()
    return labels


def dedup_by_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                      a: str = "id_a", b: str = "id_b",
                      score_col: str | None = None,
                      keep: str = "max") -> DataFrame:
    """Full-pipeline dedup: collapse transitive duplicate clusters, keeping
    the smallest-id member of each cluster; rows in no pair pass through.
    One anti-join against the (tiny relative to the corpus) non-canonical
    member set — the corpus itself is never shuffled.

    With `score_col` set, each cluster keeps its max- (``keep="max"``)
    or min-score member instead (ties → lowest id) — the production
    rule for near-dup clusters: keep the best crawl snapshot, not the
    accidental min-id one. The election is one join of the
    (pair-population-sized) component table against the corpus's
    (id, score) projection plus one map-side-combinable min-struct agg
    per component — the corpus text still never shuffles."""
    comp = connected_components(pairs, a, b)
    if score_col is None:
        losers = comp.filter(F.col("node") != F.col("component")) \
            .select(F.col("node").alias(id_col))
    else:
        if keep not in ("max", "min"):
            raise ValueError(f"keep must be 'max' or 'min' (got {keep!r})")
        s = F.col(score_col)
        ordered = (-s) if keep == "max" else s
        scores = df.select(F.col(id_col).alias("node"), s)
        reps = (comp.join(scores, "node")
                .groupBy("component")
                # leading is-null flag: NULL scores lose the election
                # (struct min would otherwise sort their NULL first)
                .agg(F.min(F.struct(s.isNull().alias("n"),
                                    ordered.alias("s"),
                                    F.col("node").alias("i")))["i"]
                     .alias("__rep")))
        losers = (comp.join(reps, "component")
                  .filter(F.col("node") != F.col("__rep"))
                  .select(F.col("node").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def dedup_rate_curve(pairs: DataFrame, thresholds: Sequence[float],
                     id_a: str = "id_a", id_b: str = "id_b",
                     sim_col: str = "jaccard") -> DataFrame:
    """Dedup-rate-vs-threshold tuning table: given ONE similarity pair
    table computed at a permissive threshold, report for each candidate
    threshold t how many pairs and how many distinct documents the gate
    `sim >= t` would flag — the knob-setting step before committing a
    near-dup threshold to a 100-TB run (re-running detection per
    candidate t is the expensive alternative this op replaces).

    Returns one row per threshold: (threshold, n_pairs, n_docs_flagged).

    Scale: the pair table is the (already-reduced) detector output, ≪
    corpus. One conditional-sum aggregation over pairs + one per-doc
    max-similarity aggregation (explode both endpoints, groupBy id)
    feeding a second conditional sum; the two one-row results cross a
    broadcast join and the threshold rows are inlined."""
    if not thresholds:
        raise ValueError("need at least one threshold")
    sim = F.col(sim_col)
    p_aggs = [F.sum((sim >= F.lit(float(t))).cast("long")).alias(f"__np{i}")
              for i, t in enumerate(thresholds)]
    p_row = pairs.agg(*p_aggs)
    per_doc = (pairs.select(F.explode(F.array(
        F.struct(F.col(id_a).alias("id"), sim.alias("s")),
        F.struct(F.col(id_b).alias("id"), sim.alias("s")))).alias("e"))
        .groupBy("e.id").agg(F.max("e.s").alias("__ms")))
    d_aggs = [F.sum((F.col("__ms") >= F.lit(float(t))).cast("long"))
              .alias(f"__nd{i}") for i, t in enumerate(thresholds)]
    d_row = per_doc.agg(*d_aggs)
    joined = p_row.crossJoin(F.broadcast(d_row))
    rows = [F.struct(F.lit(float(t)).alias("threshold"),
                     F.coalesce(F.col(f"__np{i}"), F.lit(0))
                     .alias("n_pairs"),
                     F.coalesce(F.col(f"__nd{i}"), F.lit(0))
                     .alias("n_docs_flagged"))
            for i, t in enumerate(thresholds)]
    return joined.select(F.inline(F.array(*rows)))


def fuzzy_link_pairs(df: DataFrame, id_col: str, col: str,
                     block_expr: Column | None = None,
                     max_distance: int = 2,
                     block_cap: int = 10_000) -> DataFrame:
    """Fuzzy record linkage on a STRUCTURED column (names, titles,
    addresses): candidate pairs from equality blocking, verified by
    native Levenshtein distance — the entity-resolution counterpart of
    document near-dup detection. Returns (id_a, id_b, distance) with
    id_a < id_b and distance <= max_distance.

    `block_expr` defaults to the value's first whitespace token (the
    classic name-blocking key); pass e.g. `F.soundex(F.col(c))` or a
    normalized prefix for other schemes.

    Scale (100 TB): the same shape as LSH-banded near-dup — records
    only compare WITHIN a block (one shuffle on the block key), never
    corpus×corpus, and `F.levenshtein` is a JVM-side codegen'd verify.
    Blocks larger than `block_cap` are dropped with the same rationale
    as the hot-shingle guard: a degenerate block (empty names, one
    giant soundex bucket) would go quadratic while linking nothing
    attributable — counted via one block-sized aggregation."""
    v = F.col(col)
    block = block_expr if block_expr is not None \
        else F.substring_index(F.trim(v), " ", 1)
    base = df.select(F.col(id_col).alias("__id"), v.alias("__v"),
                     block.alias("__b")).filter(F.col("__b").isNotNull())
    hot = (base.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") > block_cap).select("__b"))
    base = base.join(F.broadcast(hot), "__b", "left_anti")
    l = base.select(F.col("__b"), F.col("__id").alias("id_a"),
                    F.col("__v").alias("__va"))
    r = base.select(F.col("__b"), F.col("__id").alias("id_b"),
                    F.col("__v").alias("__vb"))
    return (l.join(r, "__b")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("distance", F.levenshtein("__va", "__vb"))
            .filter(F.col("distance") <= max_distance)
            .select("id_a", "id_b", "distance"))


def dedup_fuzzy_records(df: DataFrame, id_col: str, col: str,
                        block_expr: Column | None = None,
                        max_distance: int = 2,
                        score_col: str | None = None,
                        keep: str = "max") -> DataFrame:
    """Entity-resolution dedup: fuzzy-link records on `col`, resolve
    transitive clusters (large-star/small-star CC), keep one member
    per cluster (min id, or best `score_col` with `keep=`). Same
    collapse machinery as document near-dup dedup."""
    pairs = fuzzy_link_pairs(df, id_col, col, block_expr=block_expr,
                             max_distance=max_distance)
    return dedup_by_clusters(df, pairs, id_col,
                             score_col=score_col, keep=keep)


def winnow_fingerprints(df: DataFrame, id_col: str,
                        text_col: str = "text", k: int = 50,
                        w: int = 4) -> DataFrame:
    """Winnowed window fingerprints (the MOSS document-fingerprinting
    selection, Schleimer et al. SIGMOD'03): from every run of `w`
    consecutive k-token window fingerprints keep only the minimum
    (ties → leftmost), deduplicated. Expected density 2/(w+1) — a
    substring index built from winnowed fps is ~2/(w+1) the size of
    the full `_window_fps` table, and the winnowing GUARANTEE holds:
    two documents sharing a verbatim run of >= w+k-1 tokens share at
    least one SELECTED fingerprint, because some length-w fp window
    lies entirely inside the shared run and both sides select its
    minimum. Use it when the full window index is too large and
    span-boundary exactness can be re-derived after detection
    (detection-then-verify); the exact-span ops keep the full table.

    Returns (id, pos, fp) — the selected subset of the window table.

    Scale: build and selection are ONE Arrow-batched pass
    (`_winnow_batch`): tokens cross the Arrow boundary once, each
    k-window is a byte range of the batch's joined tokens (md5,
    bit-identical to the JVM's md5 of concat_ws), the sliding min is w-1
    vectorized numpy passes, and only the selected ~2/(w+1) fraction
    returns — zero shuffle end to end. The window-frame form (`min(struct(fp,
    pos))` over an id-partitioned, pos-ordered w-row frame + distinct)
    is the selection reference in the tests (SCALING.md "Fingerprint
    builders: one fused path"). Per-row memory is O(doc windows):
    multi-100k-token documents should be chunked first
    (chunk_documents), as everywhere else."""
    from juliadb_jl_spark.functions.text import tokens

    _check_window_k(k)
    if w < 1:
        raise ValueError(f"need w >= 1 (got {w})")
    # fence: explode(arrays_zip(...)) otherwise duplicates the pass
    sel = K.arrow_kernel(_winnow_batch,
                         "struct<fps:array<string>,poss:array<int>>", k, w)
    return (_spread(df)
            .select(F.col(id_col).alias("id"),
                    sel(tokens(F.col(text_col))).alias("r"))
            .select("id", F.explode(F.arrays_zip("r.fps", "r.poss"))
                    .alias("s"))
            .select("id", F.col("s.poss").alias("pos"),
                    F.col("s.fps").alias("fp")))
