"""Incremental (append-only) dedup: a new batch against a persisted
corpus index, without re-scanning the corpus.

At 100 TB the corpus is never re-deduped when a new crawl lands. The
engine maintains three index artifacts (all plain DataFrames — persist
them with ``sources.parquet.save`` and keep appending):

  * exact index   — one ``(fp, id)`` row per distinct normalized text
    (~40 bytes/doc: md5 fingerprint + keeper id);
  * minhash index — one ``(id, signature)`` row per kept doc
    (``num_hashes`` × 8 bytes/doc);
  * embedding index — one ``(id, v, bucket)`` row per kept doc
    (hyperplane-LSH sign bucket + the float64 vector).

New-batch dedup is then:

  * exact — anti-join the batch's fingerprints against the index, then
    a min-id groupBy dedups WITHIN the batch.  Both operate on the same
    key, so the groupBy reuses the anti-join's hash partitioning: one
    exchange of the (small) batch, one of the (fingerprint-sized) index.
  * near-dup — band the batch's signatures and equi-join against the
    banded index: new×index bucket matches only — no new×new and,
    critically, no index×index self-join, so cost is O(batch + matched
    buckets) per ingest, independent of corpus size.  The batch side is
    broadcast when small (plan-statistics size estimate ×8), so the
    100-TB index is never shuffled.

Storage layout: persist each index hash-bucketed on its join key with
``save_index_bucketed`` (exact/substring → fp, minhash → the pre-banded
(band, bucket) form, embedding → bucket, novelty → gram).  Then even a
batch too big to broadcast never re-shuffles the index — its bucketed
scan already satisfies the join's required distribution, so the planner
exchanges only the batch (plan-asserted).  Update indexes per ingest
with the ``merge_*_index`` family: min-id groupBy for exact, plain
append for minhash/embedding (signatures are pure functions of the
text), anti-join append of only-new keys for substring/novelty.

Append-equivalence contract (tested): when every id in ``new`` sorts
after every id already in the corpus (the natural ingest order),

    dedup_exact(old ∪ new)  ≡  dedup_exact(old)
                               ∪ dedup_exact_against(new, dedup_index(old))

because both sides keep the minimum id per distinct text.

No reference counterpart (JuliaDB.jl has no incremental dedup); this
extends the training-pipeline tier alongside ``functions/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import scratch
from juliadb_jl_spark.functions.dedup import (
    _MINHASH_FAMILIES, _check_hash_params, _shingle_sets,
    _signature_from_sets, _window_fps, band_buckets, cut_spans,
    hyperplane_bucket, merge_spans, verify_pairs_jaccard)
from juliadb_jl_spark.functions.text import fingerprint


def _fp(text_col: str, normalized: bool):
    return fingerprint(F.col(text_col)) if normalized else F.col(text_col)


def dedup_index(df: DataFrame, id_col: str, text_col: str = "text",
                normalized: bool = True) -> DataFrame:
    """``(fp, id)`` exact-dedup index: one row per distinct (normalized)
    text, id = the keeper (minimum id).  One shuffle, output is
    distinct-text-sized.  Same fingerprint as ``dedup_exact``."""
    return (df.groupBy(_fp(text_col, normalized).alias("fp"))
            .agg(F.min(id_col).alias(id_col)))


def merge_dedup_index(*indexes: DataFrame) -> DataFrame:
    """Union indexes built from disjoint batches into one — min-id wins,
    so merge(index(A), index(B)) == dedup_index(A ∪ B) exactly."""
    out = indexes[0]
    id_col = [c for c in out.columns if c != "fp"][0]
    for other in indexes[1:]:
        out = out.unionByName(other)
    return out.groupBy("fp").agg(F.min(id_col).alias(id_col))


def dedup_exact_against(new_df: DataFrame, index: DataFrame, id_col: str,
                        text_col: str = "text",
                        normalized: bool = True,
                        keys_only: bool = False) -> DataFrame:
    """Rows of ``new_df`` that survive exact dedup against the corpus
    index AND within the batch (min-id keeper both times).

    Shape: anti-join on fp (drops texts the corpus already has) →
    min-id groupBy on the same fp (intra-batch dedup; reuses the
    anti-join's partitioning) → semi-join back to full rows.  The
    index is only ever joined, never scanned twice.

    ``keys_only=True`` returns just the surviving ``id_col`` values and
    skips the row-recovery semi-join — one less corpus scan and one
    less exchange for consumers that only need the keeper ids (r9;
    identical id set by construction, pinned by test)."""
    keep = (new_df.select(F.col(id_col), _fp(text_col, normalized).alias("fp"))
            .join(index.select("fp"), "fp", "left_anti")
            .groupBy("fp").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    if keys_only:
        return keep
    return new_df.join(keep, id_col, "left_semi")


def dedup_exact_cosourced(df: DataFrame, id_col: str,
                          corpus_pred, batch_pred,
                          text_col: str = "text",
                          normalized: bool = True,
                          keys_only: bool = False) -> DataFrame:
    """``dedup_exact_against`` whose corpus and batch are DISJOINT
    FILTERS of one source table — the replay/backfill case (this batch
    deduped against earlier rows of the same log).  Result-identical to

        dedup_exact_against(df.filter(batch_pred),
                            dedup_index(df.filter(corpus_pred), id_col),
                            id_col, ...)

    but built from ONE scan and ONE exchange in ``keys_only=True`` mode
    (``keys_only=False`` adds the row-recovery semi-join back onto the
    batch filter — one more scan + exchange, still one fewer than the
    generic pair): every row carries its fingerprint plus two predicate
    tags, and a single fp-keyed aggregation elects ``min(batch id)``
    while testing corpus presence
    — instead of scanning/decoding the source twice, distinct-agg'ing
    the corpus fingerprints, and broadcast-anti-joining (the generic
    form, whose two Filter(Scan) subtrees Catalyst cannot merge;
    measured 1.5× on q9b at sf0.1).  min/max partially aggregate
    map-side, so a fingerprint duplicated across millions of rows (the
    skew case) reduces per-partition before the shuffle — at 100 TB
    this also beats the generic form's requirement that the distinct
    corpus index fit a broadcast.

    NULL-fingerprint semantics match the generic form exactly: a NULL
    fp never matches the anti-join (SQL equi-join semantics), so
    NULL-fp batch rows dedup only among themselves — corpus presence
    is therefore tested with a null-guarded tag here.

    Precondition (same as ``asofjoin_cosourced``): the predicates must
    be disjoint — a row satisfying both would count as corpus AND
    batch here, where the generic form would feed it to both sides.
    NULL-predicate rows drop from both sides in both forms.  Use the
    generic pair when the index is persisted (the 100-TB ingest path:
    the corpus is never re-scanned at all)."""
    fp = _fp(text_col, normalized)
    # __hb (batch presence) rather than __bmin IS NOT NULL: a batch
    # group whose ids are all NULL must still emit its (NULL-id) keeper
    # row, exactly as the generic path's min-id groupBy does.
    elected = (df.filter(corpus_pred | batch_pred)
               .select(F.col(id_col), fp.alias("fp"),
                       corpus_pred.alias("__c"), batch_pred.alias("__b"))
               .groupBy("fp")
               .agg(F.min(F.when(F.col("__b"), F.col(id_col)))
                    .alias("__bmin"),
                    F.max(F.when(F.col("__c") & F.col("fp").isNotNull(),
                                 F.lit(1)).otherwise(F.lit(0)))
                    .alias("__hc"),
                    F.max(F.when(F.col("__b"), F.lit(1)).otherwise(F.lit(0)))
                    .alias("__hb")))
    keep = (elected
            .filter((F.col("__hc") == 0) & (F.col("__hb") == 1))
            .select(F.col("__bmin").alias(id_col)))
    if keys_only:
        return keep
    return df.filter(batch_pred).join(keep, id_col, "left_semi")


# join key per index kind — the bucketed-persistence layout contract:
# an index saved bucketed on these keys is read by its *_against join
# with NO exchange on the index side (the decisive storage choice once
# batches outgrow broadcast: the 100-TB index is never re-shuffled).
_INDEX_BUCKET_KEYS = {
    "exact": ["fp"],          # dedup_exact_against anti-join key
    "minhash": ["band", "bucket"],   # pre-banded form (minhash_index_banded)
    "embedding": ["bucket"],  # hyperplane-LSH bucket
    "substring": ["fp"],      # duplicate_spans_against semi-join key
    "novelty": ["gram"],      # novelty_against join key
    "attribution": ["gram"],  # leakage_attribution_against join key
}


def save_index_bucketed(index: DataFrame, table_name: str, kind: str,
                        buckets: int = 64, mode: str = "overwrite") -> None:
    """Persist an incremental-ingest index hash-BUCKETED on its join
    key (kind → key: exact/substring → fp, minhash → (band, bucket) of
    the pre-banded form from ``minhash_index_banded``, embedding →
    bucket, novelty → gram), via ``sources.parquet.save_bucketed``.

    Every later ``*_against`` ingest then reads the index exchange-free:
    the bucketed scan already satisfies the join's required
    distribution, so the planner shuffles ONLY the (batch-sized) new
    side — plan-asserted in tests/test_incremental.py.  Size ``buckets``
    so one bucket of the index fits executor memory (e.g. a 100 TB
    banded index at 4 GiB/bucket target → ~25k buckets).  Append later
    batches with ``mode="append"`` — Spark bucketing is stable across
    writes of the same bucket count."""
    from juliadb_jl_spark.plans.table import Table
    from juliadb_jl_spark.sources.parquet import save_bucketed
    keys = _INDEX_BUCKET_KEYS[kind]
    missing = [k for k in keys if k not in index.columns]
    if missing:
        raise ValueError(
            f"index kind={kind!r} must carry join-key column(s) {keys} "
            f"(missing {missing}); for kind='minhash' persist the "
            f"pre-banded form from minhash_index_banded")
    save_bucketed(Table(index), table_name, buckets, by=keys, mode=mode)


def load_index(table_name: str, spark=None) -> DataFrame:
    """Reopen an index persisted with ``save_index_bucketed`` (a plain
    DataFrame over the bucketed table — bucketing metadata lives in the
    catalog, so joins on the bucket key skip the index-side exchange)."""
    from juliadb_jl_spark.sources.parquet import load_table
    return load_table(table_name, spark).df


# MinHash build parameters recorded as COLUMN METADATA on the index
# (signature column of the flat form, bucket column of the pre-banded
# form).  Spark schema metadata survives parquet writes (stored in the
# footer's Spark schema) and saveAsTable catalogs, so a reopened index
# still knows how it was built — closing the silent-zero-matches trap
# ADVICE r7 flagged: probing an index with a mismatched hash_family (or
# num_hashes/bands) yields no bucket matches and no error.
_P31 = 2147483647  # 2^31 - 1 — crc32perm/portable signature modulus


def _index_meta(index: DataFrame, col: str) -> dict:
    """Recorded build-parameter metadata of `col` ({} when absent —
    e.g. an index persisted before the metadata existed)."""
    for f in index.schema.fields:
        if f.name == col:
            return dict(f.metadata or {})
    return {}


def check_index_family(index: DataFrame, hash_family: str,
                       num_hashes: int | None = None,
                       bands: int | None = None,
                       k: int | None = None) -> None:
    """Validate a MinHash index's recorded build parameters against the
    probe's.  Signatures are family-specific, so a mismatched probe
    joins zero buckets SILENTLY — this turns that into an error.

    Indexes built since r8 carry {hash_family, num_hashes, k[, bands]}
    as column metadata; any recorded parameter that disagrees with the
    probe raises.  For metadata-less (pre-r8) flat indexes there is
    still one definitive check: crc32perm/portable signature values are
    (a·x+b) mod 2^31-1, so a sampled value outside [0, 2^31-1) proves
    the index was built with the removed xxhash64 family (full-range
    int64).  Either way, an xxhash64 index raises with a rebuild
    message: no probe family can match it.  Pre-banded metadata-less
    indexes hold only bucket hashes — they are uncheckable and pass
    silently."""
    col = "bucket" if {"band", "bucket"}.issubset(index.columns) \
        else "signature"
    meta = _index_meta(index, col)
    rebuild = ("Rebuild the index with minhash_index (signatures are "
               "pure functions of the text).")
    family = meta.get("hash_family")
    if family is not None and family not in _MINHASH_FAMILIES:
        raise ValueError(
            f"this MinHash index was built with hash_family={family!r}, "
            f"which no longer exists. {rebuild}")
    probe = {"hash_family": hash_family, "num_hashes": num_hashes,
             "bands": bands, "k": k}
    bad = {p: (meta[p], v) for p, v in probe.items()
           if v is not None and p in meta and meta[p] != v}
    if bad:
        detail = "; ".join(f"{p}: index={iv!r} vs probe={pv!r}"
                           for p, (iv, pv) in bad.items())
        raise ValueError(
            f"MinHash index build parameters disagree with this probe "
            f"({detail}). Signatures are family/parameter-specific — a "
            f"mismatched probe joins ZERO buckets silently. Pass the "
            f"index's recorded parameters, or rebuild the index "
            f"(signatures are pure functions of the text).")
    if not meta and col == "signature":
        row = index.select("signature").head(1)
        if row and row[0][0] is not None and any(
                v is not None and not (0 <= v < _P31) for v in row[0][0]):
            raise ValueError(
                f"index signature values fall outside [0, 2^31-1), "
                f"which is impossible under hash_family="
                f"{hash_family!r} ((a*x+b) mod 2^31-1) — this index "
                f"was built with the removed xxhash64 family (the "
                f"pre-r7 default). {rebuild}")


def _stamp_index_meta(df: DataFrame, col: str, **params) -> DataFrame:
    return df.withMetadata(col, {p: v for p, v in params.items()
                                 if v is not None})


def minhash_index_banded(index: DataFrame, id_col: str = "id",
                         num_hashes: int = 32, bands: int = 8,
                         hash_family: str = "crc32perm") -> DataFrame:
    """(id, band, bucket) banded layout of an ``(id, signature)`` MinHash
    index — the exact rows ``minhash_against`` probes, precomputed so
    they can be persisted bucketed on (band, bucket) via
    ``save_index_bucketed(kind="minhash")``.  ``minhash_against``
    recognizes a pre-banded index by its columns and skips in-flight
    banding; band parameters must match the batch side (same
    num_hashes/bands/hash_family — document them next to the table).
    crc32perm family only: the portable family's bucket is an array,
    which Spark bucketing cannot hash."""
    _check_hash_params(hash_family, _MINHASH_FAMILIES, num_hashes, bands)
    if hash_family == "portable":
        raise ValueError("banded persistence needs a hashable bucket "
                         "column; the portable family's array buckets "
                         "are oracle-path only — use hash_family="
                         "'crc32perm' (the scale path)")
    check_index_family(index, hash_family, num_hashes)
    idx_id = id_col if id_col in index.columns else "id"
    banded = band_buckets(
        index.select(F.col(idx_id).alias("id"), "signature"),
        bands, num_hashes // bands, hash_family)
    return _stamp_index_meta(
        banded, "bucket", hash_family=hash_family, num_hashes=num_hashes,
        bands=bands, k=_index_meta(index, "signature").get("k"))


def merge_minhash_index(*indexes: DataFrame) -> DataFrame:
    """Union MinHash indexes built from id-disjoint batches into one:
    merge(minhash_index(A), minhash_index(B)) == minhash_index(A ∪ B)
    exactly when A and B share no ids (the append-ingest contract),
    because a signature is a pure function of its text — nothing to
    re-aggregate.  In production just APPEND the new batch's index rows
    to the persisted parquet (``mode="append"``); this helper is the
    in-memory equivalent (property-tested against the one-shot index)."""
    out = indexes[0]
    for other in indexes[1:]:
        out = out.unionByName(other)
    return out


def merge_embedding_index(*indexes: DataFrame) -> DataFrame:
    """Union embedding indexes of id-disjoint batches — exact for the
    same reason as ``merge_minhash_index`` (the hyperplanes are
    deterministic in (dim, n_planes, seed), so buckets of a doc never
    depend on which batch it arrived in).  Persisted form: plain
    parquet append of the batch index."""
    out = indexes[0]
    for other in indexes[1:]:
        out = out.unionByName(other)
    return out


def merge_substring_index(index: DataFrame, new_index: DataFrame) -> DataFrame:
    """ONLY-NEW window fingerprints of ``new_index`` relative to the
    persisted ``index`` — append the result to the index storage
    (``mode="append"``); then  index ∪ result == substring_index(old ∪ new)
    exactly (both are the distinct fp-set union).

    Scale shape: one anti-join on fp with the distinct pass REUSING the
    anti-join's hash partitioning (same key, zero extra exchange), and
    the OUTPUT is batch-sized — unlike a union + distinct rewrite,
    which re-shuffles and re-writes the entire corpus-sized fp set per
    ingest.  With the index persisted bucketed on fp
    (``save_index_bucketed``) its side of the anti-join also reads
    exchange-free."""
    return (new_index.select("fp")
            .join(index.select("fp"), "fp", "left_anti")
            .distinct())


def merge_novelty_index(index: DataFrame, new_index: DataFrame) -> DataFrame:
    """ONLY-NEW n-grams of ``new_index`` relative to the persisted
    novelty ``index`` — the anti-join append that replaces the naive
    union + distinct (which re-distincts the full 100-TB gram set every
    merge): output is O(new grams), the index is read once (and
    exchange-free when persisted bucketed on gram), and
    index ∪ result == novelty_index(old ∪ new) exactly."""
    return (new_index.select("gram")
            .join(index.select("gram"), "gram", "left_anti")
            .distinct())


def minhash_index(df: DataFrame, id_col: str, text_col: str = "text",
                  k: int = 3, num_hashes: int = 32,
                  hash_family: str = "crc32perm") -> DataFrame:
    """``(id, signature)`` MinHash index over (typically already
    exact-deduped) corpus docs — the persistable artifact
    ``minhash_against`` joins new batches onto.  Identical signature
    construction to ``minhash_signature`` (so an index built today
    matches batches signed tomorrow) — delegated to it, so the index
    build rides the same fused crc32perm path.  The build parameters
    (hash_family/num_hashes/k) are recorded as metadata on the
    signature column — they survive parquet persistence, and
    ``minhash_against`` / ``minhash_index_banded`` validate them
    against the probe's parameters (a silent mismatch would join zero
    buckets — ADVICE r7)."""
    from juliadb_jl_spark.functions.dedup import minhash_signature
    sig = minhash_signature(df, id_col, text_col, k, num_hashes,
                            hash_family)
    return _stamp_index_meta(sig, "signature", hash_family=hash_family,
                             num_hashes=num_hashes, k=k)


def minhash_against(new_df: DataFrame, index: DataFrame, id_col: str,
                    text_col: str = "text", k: int = 3,
                    num_hashes: int = 32, bands: int = 8,
                    threshold: float = 0.5, verify: bool = True,
                    hash_family: str = "crc32perm",
                    corpus_df: DataFrame | None = None,
                    broadcast_new: bool | None = None,
                    broadcast_threshold_bytes: int = 1 << 30) -> DataFrame:
    """Near-dup links (id_new, id_corpus[, jaccard]) between a new batch
    and an existing MinHash index — the incremental-ingest LSH path.

    Only new×index bucket matches are generated (no new×new — run
    ``minhash_lsh_pairs`` on the batch alone for intra-batch pairs —
    and no index×index).  ``broadcast_new=None`` auto-broadcasts the
    banded batch when its plan-statistics size estimate (×8 expansion
    for compressed-on-disk bytes) fits under the threshold, so the
    corpus-sized index side is joined in place rather than shuffled.
    For batches past the broadcast bound, persist the PRE-BANDED index
    (``minhash_index_banded`` + ``save_index_bucketed(kind="minhash")``)
    — this function recognizes the (band, bucket) columns, skips
    in-flight banding, and the bucketed scan keeps the index
    exchange-free there too; only the batch is ever shuffled.

    ``verify=True`` needs ``corpus_df`` (id/text of the indexed docs) to
    compute exact Jaccard — but only for docs that actually matched a
    bucket: the candidate corpus-ids semi-join prunes the corpus scan
    to the (tiny) matched set before shingling.

    Precondition: ids are unique ACROSS batch and corpus (standard for
    document ids; the append-ingest contract already assumes it).
    Precondition: the index was built with the SAME hash_family (and
    num_hashes/bands) as this call — signatures are family-specific
    and a mismatch silently yields zero bucket matches. ENFORCED since
    r8: indexes built by ``minhash_index``/``minhash_index_banded``
    carry their build parameters as column metadata (survives parquet)
    and ``check_index_family`` raises on disagreement; metadata-less
    pre-r8 flat indexes get a one-row range check (crc32perm values
    are mod 2^31-1, xxhash64's are full-range int64). Indices
    persisted before the r7 crc32perm default change were built with
    the xxhash64 family, which is gone: they raise, and must be
    rebuilt with ``minhash_index`` (signatures are pure functions of
    the text).

    Giant-clique note: unlike minhash_lsh_pairs there is no unique-text
    lift here, because the documented composition already provides it —
    the index is built from an exact-deduped corpus and the batch goes
    through dedup_exact_against FIRST (see examples/pipeline.py), so no
    identical texts remain on either side and a c-clique can contribute
    at most c candidate rows per band, not c². check_invariants.py #6
    deliberately runs the NOT-deduped stress and stays exact."""
    _check_hash_params(hash_family, _MINHASH_FAMILIES, num_hashes, bands)
    check_index_family(index, hash_family, num_hashes, bands, k)
    if verify and corpus_df is None:
        raise ValueError("verify=True needs corpus_df (id/text of the "
                         "indexed docs) for the exact-Jaccard check; "
                         "pass verify=False for candidates only")
    r = num_hashes // bands
    new_sets = _shingle_sets(new_df, id_col, text_col, k)
    if verify:
        new_sets = scratch.register(new_sets.persist())
    new_sig = _signature_from_sets(new_sets, num_hashes, hash_family)
    new_banded = band_buckets(new_sig, bands, r, hash_family)
    idx_id = id_col if id_col in index.columns else "id"
    if {"band", "bucket"}.issubset(index.columns):
        # pre-banded index (minhash_index_banded) — typically persisted
        # bucketed on (band, bucket) via save_index_bucketed, whose scan
        # then satisfies the join distribution with no exchange
        idx_banded = index.select(F.col(idx_id).alias("id"),
                                  "band", "bucket")
    else:
        idx_banded = band_buckets(
            index.select(F.col(idx_id).alias("id"), "signature"),
            bands, r, hash_family)
    if broadcast_new is None:
        est = int(new_df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        broadcast_new = 0 <= est * 8 <= broadcast_threshold_bytes
    n, c = new_banded.alias("n"), idx_banded.alias("c")
    if broadcast_new:
        n = F.broadcast(n)
    else:
        # both sides large: shuffle-hash join BUILDING on the batch side
        # (the smaller map), streaming the index.  No explicit
        # repartition on either side — the planner co-partitions them,
        # and when the index is persisted bucketed on (band, bucket)
        # its scan already satisfies the distribution, so only the
        # batch is shuffled (plan-asserted): the 100-TB index is never
        # re-partitioned, broadcastable batch or not.
        n = n.hint("shuffle_hash")
    cand = (c.join(n, (F.col("c.band") == F.col("n.band")) &
                   (F.col("c.bucket") == F.col("n.bucket")))
            .select(F.col("n.id").alias("id_new"),
                    F.col("c.id").alias("id_corpus"))
            .distinct())
    if not verify:
        return cand
    cand = scratch.register(cand.persist())
    matched_ids = cand.select(F.col("id_corpus").alias(id_col)).distinct()
    corp_sets = _shingle_sets(
        corpus_df.join(F.broadcast(matched_ids), id_col, "left_semi"),
        id_col, text_col, k)
    # the union feeds BOTH sides of the verify join — persist so the
    # matched-corpus shingling (and its corpus semi-join) runs once
    sets = scratch.register(new_sets.unionByName(corp_sets).persist())
    pairs = verify_pairs_jaccard(
        None, cand.select(F.col("id_corpus").alias("id_a"),
                          F.col("id_new").alias("id_b")),
        id_col, text_col, k, threshold, sets=sets)
    return pairs.select(F.col("id_b").alias("id_new"),
                        F.col("id_a").alias("id_corpus"), "jaccard")


def embedding_index(df: DataFrame, id_col: str, vec_col: str,
                    n_planes: int = 8, seed: int = 42) -> DataFrame:
    """``(id, v, bucket)`` hyperplane-LSH index over corpus embeddings —
    the persistable artifact ``embedding_against`` probes.  The planes
    are deterministic in (dim, n_planes, seed), so an index built today
    buckets identically to batches bucketed tomorrow."""
    head = df.select(vec_col).head(1)
    if not head:
        return df.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v"),
                         F.lit(0).alias("bucket")).limit(0)
    dim = len(head[0][0])
    # float64 vectors: the verify cosine must be bit-identical with the
    # pure-Column/oracle path (same cast embedding_pairs_exact applies)
    return df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"),
                     hyperplane_bucket(vec_col, dim, n_planes, seed)
                     .alias("bucket"))


def embedding_against(new_df: DataFrame, index: DataFrame, id_col: str,
                      vec_col: str, threshold: float = 0.95,
                      n_planes: int = 8, seed: int = 42,
                      exact: bool = False,
                      broadcast_new: bool | None = None,
                      broadcast_threshold_bytes: int = 1 << 30) -> DataFrame:
    """(id_new, id_corpus, cosine) links between a new embedding batch
    and the corpus index, cosine ≥ threshold — the third modality of the
    incremental-ingest family (exact text / MinHash text / embeddings).

    Default (exact=False) is the scale path: bucket the batch with the
    SAME hyperplanes as the index and join bucket-equal rows only —
    cross-bucket true pairs are missed, the standard LSH recall/cost
    trade of embedding_neardup_pairs.  exact=True skips blocking and
    scans the index once against the batch — exhaustive, so it doubles
    as the oracle for the blocked path (requires a batch that fits in
    executor memory as a float64 matrix; same bound as
    embedding_pairs_exact).  Exhaustive candidate generation is one
    blocked numpy matmul per corpus partition against the broadcast
    batch matrix — a naive crossJoin would evaluate the interpreted
    higher-order cosine |batch|·|corpus| times (the measured 400M-eval
    trap embedding_pairs_exact's docstring records); survivors are
    re-verified with the same native cosine, so emitted values stay
    bit-identical with the blocked path and the SQL oracle.

    ``broadcast_new=None`` auto-broadcasts the batch under the same
    plan-statistics ×8 rule as minhash_against, so the corpus index is
    joined in place; a too-big batch falls back to co-partitioning both
    sides on the bucket (blocked mode only)."""
    from juliadb_jl_spark.functions.similarity import cosine_expr
    head = new_df.select(vec_col).head(1)
    if not head:
        return new_df.select(F.col(id_col).alias("id_new")).limit(0) \
            .crossJoin(index.select(F.col("id").alias("id_corpus")).limit(0)) \
            .withColumn("cosine", F.lit(0.0))
    dim = len(head[0][0])
    if broadcast_new is None:
        est = int(new_df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        broadcast_new = 0 <= est * 8 <= broadcast_threshold_bytes
    n = new_df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"),
                      hyperplane_bucket(vec_col, dim, n_planes, seed)
                      .alias("bucket"))
    if exact:
        if not broadcast_new:
            raise ValueError("exact=True scans the corpus against the "
                             "broadcast batch; the batch's size "
                             "estimate exceeds the broadcast threshold "
                             "— use the blocked path (exact=False) or "
                             "raise broadcast_threshold_bytes")
        return _cross_pairs_exact(n.drop("bucket"), index, threshold)
    c = index
    if broadcast_new:
        n = F.broadcast(n)
    else:
        # build on the batch side, stream the index; no explicit
        # repartition so a bucket-persisted index (save_index_bucketed
        # kind="embedding") is scanned in place and only the batch
        # shuffles — same rationale as minhash_against
        n = n.hint("shuffle_hash")
    n, c = n.alias("n"), c.alias("c")
    cos = cosine_expr(F.col("n.v"), F.col("c.v"), dim)
    return (c.join(n, F.col("n.bucket") == F.col("c.bucket"))
            .select(F.col("n.id").alias("id_new"),
                    F.col("c.id").alias("id_corpus"), cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def _cross_pairs_exact(batch_keyed: DataFrame, index: DataFrame,
                       threshold: float,
                       margin: float = 1e-6) -> DataFrame:
    """Exhaustive batch×corpus cosine links: candidates from one blocked
    float64 matmul per corpus partition vs the broadcast normalized
    batch matrix (threshold padded by `margin` so BLAS reassociation
    can never drop a boundary pair), then native-cosine verification of
    the O(matching) survivors — the asymmetric twin of
    dedup.embedding_pairs_exact's generator."""
    import numpy as np
    import pandas as pd

    from juliadb_jl_spark.functions.similarity import cosine_expr

    spark = batch_keyed.sparkSession
    bpdf = batch_keyed.toPandas()
    if bpdf.empty:
        return (batch_keyed.select(F.col("id").alias("id_new")).limit(0)
                .crossJoin(index.select(F.col("id").alias("id_corpus"))
                           .limit(0))
                .withColumn("cosine", F.lit(0.0)))
    bids = bpdf["id"].to_numpy()
    B = np.array([np.asarray(v, dtype="float64") for v in bpdf["v"]])
    Bn = B / (np.linalg.norm(B, axis=1, keepdims=True) + 1e-300)
    bc = spark.sparkContext.broadcast((bids, Bn))
    thr = threshold - margin
    id_t = batch_keyed.schema["id"].dataType.simpleString()

    def gen(batches):
        qids, qM = bc.value
        for p in batches:
            if not len(p):
                continue
            M = np.array([np.asarray(v, dtype="float64") for v in p["v"]])
            Mn = M / (np.linalg.norm(M, axis=1, keepdims=True) + 1e-300)
            r, c = np.nonzero(Mn @ qM.T >= thr)
            yield pd.DataFrame({"id_corpus": p["id"].to_numpy()[r],
                                "id_new": qids[c]})

    par = spark.sparkContext.defaultParallelism
    cand = (index.select("id", "v").repartition(par)
            .mapInPandas(gen, f"id_corpus {id_t}, id_new {id_t}"))
    cv = index.select(F.col("id").alias("id_corpus"),
                      F.col("v").alias("cv"))
    nv = batch_keyed.select(F.col("id").alias("id_new"),
                            F.col("v").alias("nv"))
    return (cand.join(cv, "id_corpus").join(F.broadcast(nv), "id_new")
            .withColumn("cosine", cosine_expr(F.col("nv"), F.col("cv"),
                                              int(Bn.shape[1])))
            .filter(F.col("cosine") >= threshold)
            .select("id_new", "id_corpus", "cosine"))


def substring_index(df: DataFrame, id_col: str, text_col: str = "text",
                    k: int = 50) -> DataFrame:
    """Distinct k-token-window fingerprints of the (already
    substring-deduped) corpus — the persistable artifact
    ``dedup_substrings_against`` cuts new batches against.  One
    ``(fp)`` row per distinct window; same md5 construction as
    ``duplicate_spans`` so index and batch windows are comparable.

    Scale: distinct over a mostly-unique corpus window table is the
    r6 bounded-agg case (novelty/duplicate_spans rung catches) — the
    fp stream pre-partitions BY FP onto 4×parallelism partitions so
    the dedup hash map per task is distinct_fps/partitions instead of
    a per-task map of nearly the whole slice.  The build is the
    fps-only Arrow pass (`_window_fp_set`: per-doc set, no positions,
    one flat array over Arrow) and the exchange + distinct run on the
    16 raw digest bytes; hex encoding happens AFTER the distinct so
    the artifact contract (lowercase hex string, comparable with
    `_window_fps` output) is unchanged.  Measured note (5M-doc rung):
    wall/CPU parity with the hex struct build — the exchange+distinct
    is per-row-overhead-bound, not key-byte-bound, so the bin keys
    buy simplicity and artifact-size headroom rather than time."""
    from juliadb_jl_spark.functions.dedup import _window_fp_set
    p4 = 4 * df.sparkSession.sparkContext.defaultParallelism
    return (_window_fp_set(df, text_col, k)
            .repartition(p4, "fp").distinct()
            .select(F.lower(F.hex("fp")).alias("fp")))


def duplicate_spans_against(new_df: DataFrame, index: DataFrame,
                            id_col: str, text_col: str = "text",
                            k: int = 50, within_batch: bool = True,
                            merge: bool = True) -> DataFrame:
    """Maximal duplicated spans of a NEW batch vs the corpus window
    index (+ within the batch): a batch window whose fingerprint exists
    in the index is duplicated (the corpus keeps its copy); with
    ``within_batch`` the min-id keeper rule also marks intra-batch
    repeats.  Both span sources are computed on the ORIGINAL batch
    text and merged before any cut.  Fingerprints here are md5 (the
    index artifact's collision-free family), so the composition is
    EXACTLY equal to the one-shot ``duplicate_spans(old ∪ new,
    fp_fmt="bin")`` restricted to batch ids when the corpus is
    pre-deduped and batch ids sort last (property-tested with that
    fp_fmt pinned); vs the one-shot's u64 DEFAULT it is equal only up
    to the one-shot's ~2.6e-3-per-corpus u64 collision class — the
    incremental path never inherits those collisions (ADVICE r8).

    Scale: one batch window explode; the index is semi-joined (never
    scanned), intra-batch resolution is the same groupBy(fp)+join shape
    as the one-shot — no pairwise self-join anywhere."""
    w = scratch.register(
        _window_fps(new_df, id_col, text_col, k).persist())
    span = lambda d: d.select(  # noqa: E731
        "id", F.col("pos").alias("span_start"),
        (F.col("pos") + k).alias("span_end"))
    vs_corpus = span(w.join(index.select("fp"), "fp", "left_semi"))
    if within_batch:
        keeper = w.groupBy("fp").agg(F.min("id").alias("__keep"),
                                     F.count(F.lit(1)).alias("__n"))
        intra = span(w.join(keeper.filter(F.col("__n") > 1), "fp")
                     .filter(F.col("id") != F.col("__keep")))
        dup = vs_corpus.unionByName(intra).distinct()
    else:
        dup = vs_corpus.distinct()
    if not merge:
        return dup.withColumnRenamed("id", id_col)
    return merge_spans(dup, id_col)


def dedup_substrings_against(new_df: DataFrame, index: DataFrame,
                             id_col: str, text_col: str = "text",
                             k: int = 50, within_batch: bool = True,
                             out_col: str | None = None) -> DataFrame:
    """Incremental exact substring dedup: cut every batch span of >= k
    tokens that repeats the corpus (or, with ``within_batch``, another
    batch occurrence outside the min-id keeper).  One cut on the
    original text — composition-equal to the one-shot
    ``dedup_substrings(old ∪ new)`` on the batch slice."""
    spans = duplicate_spans_against(new_df, index, id_col, text_col, k,
                                    within_batch=within_batch)
    return cut_spans(new_df, spans, id_col, text_col, out_col)


def embedding_against_ivf(new_df: DataFrame, tagged_corpus: DataFrame,
                          centroids, id_col: str, vec_col: str,
                          threshold: float = 0.95,
                          nprobe: int = 4) -> DataFrame:
    """IVF-routed incremental embedding links — the shape for batches
    too big to broadcast over corpora persisted with ``ivf_save``
    (cell-partitioned, so each probe prunes whole partitions).

    Each batch vector probes its ``nprobe`` nearest cells (one Arrow
    matmul per batch, same rationale as ``similarity._assign_cells``);
    only cell-equal rows are joined and cosine-verified.  Recall grows
    with nprobe and reaches the exhaustive ``embedding_against``
    answer at nprobe == n_cells (differential-tested); a corpus doc
    lives in exactly one cell, so no candidate pair repeats and no
    distinct pass is needed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from juliadb_jl_spark.functions.similarity import cosine_expr

    cents = np.asarray(centroids, dtype="float64")
    cnorm = np.linalg.norm(cents, axis=1) + 1e-12
    np_ = min(int(nprobe), len(cents))

    def _route(vs):
        M = np.array([np.asarray(v, dtype="float64") for v in vs])
        sims = (M @ cents.T) / (np.linalg.norm(M, axis=1, keepdims=True)
                                + 1e-12) / cnorm
        top = np.argsort(-sims, axis=1)[:, :np_].astype("int32")
        return pd.Series([list(t) for t in top])

    # fence (§4.4): the explode below otherwise infers a size filter
    # that re-evaluates the routing UDF per row
    route = F.pandas_udf(_route, T.ArrayType(T.IntegerType())) \
        .asNondeterministic()
    n = (new_df.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v"))
         .withColumn("cell", F.explode(route(F.col("v")))))
    p = new_df.sparkSession.sparkContext.defaultParallelism
    n = n.repartition(p, "cell").alias("n")
    c = tagged_corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "cell").alias("c")
    cos = cosine_expr(F.col("n.v"), F.col("c.cv"), int(cents.shape[1]))
    return (c.join(n, F.col("n.cell") == F.col("c.cell"))
            .select(F.col("n.id").alias("id_new"),
                    F.col("c.cid").alias("id_corpus"), cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def novelty_index(df: DataFrame, text_col: str = "text",
                  n: int = 5) -> DataFrame:
    """Distinct word n-gram set of the corpus — one ``(gram)`` row per
    distinct n-gram, the persistable artifact ``novelty_against``
    scores new batches with.  Update with ``merge_novelty_index`` (an
    O(batch) anti-join append — do NOT union + distinct the full set).
    Same shingle construction as ``curation.novelty_scores``."""
    from juliadb_jl_spark.functions.text import arrow_shingles
    p4 = 4 * df.sparkSession.sparkContext.defaultParallelism
    return (df.select(F.explode(F.array_distinct(
        arrow_shingles(F.col(text_col), n))).alias("gram"))
        .repartition(p4, "gram")  # r6 bounded-agg rule (rung catches)
        .distinct())


def novelty_against(new_df: DataFrame, index: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    n: int = 5) -> DataFrame:
    """Ingest-time novelty: per new doc, the fraction of its DISTINCT
    word n-grams that appear NOWHERE in the corpus index —
    (id, n_grams, n_known, novelty), novelty = 1 − n_known/n_grams,
    docs with < n tokens report 0 / 0 / 1.0.  The batch-curation twin
    of ``curation.novelty_scores`` (which scores docs against the rest
    of one corpus): here the reference set is the persisted index, the
    corpus is never re-read, and the join is shuffled on the gram key —
    a 100-TB gram set is NOT broadcastable, unlike
    ``contamination_report``'s benchmark list."""
    from juliadb_jl_spark.functions.text import shingles
    grams = new_df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(
            shingles(F.col(text_col), n))).alias("gram"))
    hit = index.select("gram").withColumn("__known", F.lit(1))
    joined = grams.join(hit, "gram", "left")
    n_grams = F.sum(F.col("gram").isNotNull().cast("long"))
    n_known = F.sum(F.coalesce(F.col("__known"), F.lit(0)).cast("long"))
    return (joined.groupBy(id_col)
            .agg(n_grams.alias("n_grams"), n_known.alias("n_known"))
            .withColumn("novelty",
                        F.when(F.col("n_grams") > 0,
                               1 - F.col("n_known") / F.col("n_grams"))
                        .otherwise(F.lit(1.0))))
