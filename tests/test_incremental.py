"""Incremental (new-batch-vs-corpus-index) dedup: append-equivalence of
the exact path, index-merge exactness, and new×index MinHash links ≡ the
cross-parity slice of the full self-join pipeline."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import dedup as DD
from juliadb_jl_spark.functions import incremental as INC
from juliadb_jl_spark.sources.testdata import read_table

from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


OLD_ROWS = [
    (0, "the quick brown fox jumps over the dog"),
    (1, "pack my box with five dozen jugs"),
    (2, "the quick brown fox jumps over the dog"),   # dup of 0
    (3, "entirely different sentence about spark"),
]
NEW_ROWS = [
    (10, "pack my box with five dozen jugs"),        # dup of corpus 1
    (11, "a genuinely fresh document"),
    (12, "a genuinely fresh document"),              # intra-batch dup of 11
    (13, "THE QUICK  brown fox jumps over the dog"), # normalized dup of 0
    (14, "another brand new text"),
]


def test_dedup_exact_against_append_equivalence(spark):
    """dedup(old ∪ new) == dedup(old) ∪ dedup_against(new, index(old))
    when new ids sort after old ids (the ingest contract)."""
    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    full = DD.dedup_exact(old.unionByName(new), "doc_id")
    idx = INC.dedup_index(old, "doc_id")
    inc = (DD.dedup_exact(old, "doc_id")
           .unionByName(INC.dedup_exact_against(new, idx, "doc_id")))
    assert (sorted(r["doc_id"] for r in full.collect())
            == sorted(r["doc_id"] for r in inc.collect())
            == [0, 1, 3, 11, 14])


def test_merge_dedup_index_exact(spark):
    """merge(index(A), index(B)) == index(A ∪ B) — min-id keeper wins."""
    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    merged = INC.merge_dedup_index(INC.dedup_index(old, "doc_id"),
                                   INC.dedup_index(new, "doc_id"))
    direct = INC.dedup_index(old.unionByName(new), "doc_id")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_minhash_against_equals_cross_slice(spark):
    """new×index links == the cross-parity slice of the full LSH
    self-join (same banding ⇒ same bucket-collision candidates ⇒ same
    verified pairs), on the real documents table."""
    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = INC.minhash_index(old, "doc_id", num_hashes=32)
    got = INC.minhash_against(new, idx, "doc_id", num_hashes=32, bands=8,
                              threshold=0.4, corpus_df=old).collect()
    full = DD.minhash_lsh_pairs(docs, "doc_id", num_hashes=32, bands=8,
                                threshold=0.4).collect()
    want = {(max(r["id_a"], r["id_b"], key=lambda i: i % 2),
             min(r["id_a"], r["id_b"], key=lambda i: i % 2),
             round(r["jaccard"], 12))
            for r in full if r["id_a"] % 2 != r["id_b"] % 2}
    # key fns: odd id (the "new" side) sorts last under i % 2
    assert {(r["id_new"], r["id_corpus"], round(r["jaccard"], 12))
            for r in got} == want


def test_minhash_against_candidates_superset(spark):
    """verify=False candidates ⊇ verified pairs; both shuffle paths
    (broadcast_new True/False) agree."""
    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = INC.minhash_index(old, "doc_id", num_hashes=32)
    kw = dict(num_hashes=32, bands=8, threshold=0.4)
    ver = {(r["id_new"], r["id_corpus"]) for r in
           INC.minhash_against(new, idx, "doc_id", corpus_df=old,
                               broadcast_new=True, **kw).collect()}
    cand_b = {tuple(r) for r in
              INC.minhash_against(new, idx, "doc_id", verify=False,
                                  broadcast_new=True, **kw).collect()}
    cand_s = {tuple(r) for r in
              INC.minhash_against(new, idx, "doc_id", verify=False,
                                  broadcast_new=False, **kw).collect()}
    assert cand_b == cand_s and ver <= cand_b


def test_embedding_against_exact_and_blocked(spark):
    """exact=True equals the cross-parity slice of the exact all-pairs
    generator; the hyperplane-blocked path is a subset of exact with
    every emitted cosine above threshold and correct on same-bucket
    pairs; broadcast/shuffle paths agree."""
    from juliadb_jl_spark.functions import incremental as INC

    emb = read_table(spark, SF_DIR, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = INC.embedding_index(old, "vec_id", "embedding")
    exact = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9)) for r in
             INC.embedding_against(new, idx, "vec_id", "embedding",
                                   threshold=0.35, exact=True).collect()}
    full = DD.embedding_pairs_exact(emb, "vec_id", "embedding",
                                    threshold=0.35).collect()
    want = {(max(r["id_a"], r["id_b"], key=lambda i: i % 2),
             min(r["id_a"], r["id_b"], key=lambda i: i % 2),
             round(r["cosine"], 9))
            for r in full if r["id_a"] % 2 != r["id_b"] % 2}
    assert exact == want
    blocked_b = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9)) for r in
                 INC.embedding_against(new, idx, "vec_id", "embedding",
                                       threshold=0.35,
                                       broadcast_new=True).collect()}
    blocked_s = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9)) for r in
                 INC.embedding_against(new, idx, "vec_id", "embedding",
                                       threshold=0.35,
                                       broadcast_new=False).collect()}
    assert blocked_b == blocked_s and blocked_b <= exact
    assert all(c >= 0.35 for _, _, c in blocked_b)


def test_stream_dedup_against_matches_batch(spark, tmp_path):
    """Continuous-ingest dedup: a streamed batch anti-joined against the
    static corpus index keeps EXACTLY the rows dedup_exact_against's
    cross-corpus half keeps on the same data (stream-static left-anti ≡
    the batch plan), across multiple micro-batches."""
    import pandas as pd
    from juliadb_jl_spark.functions import incremental as INC
    from juliadb_jl_spark.streaming import aggregate as SA

    old = _docs(spark, OLD_ROWS)
    idx = INC.dedup_index(old, "doc_id")
    b1, b2 = pd.DataFrame(NEW_ROWS[:3], columns=["doc_id", "text"]), \
        pd.DataFrame(NEW_ROWS[3:], columns=["doc_id", "text"])
    src = str(tmp_path / "ingest")
    spark.createDataFrame(b1).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(src + "/b2")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = SA.stream_dedup_against(stream, idx)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("ingest_out").start())
    q.processAllAvailable()
    q.stop()
    got = sorted(r["doc_id"] for r in
                 spark.sql("SELECT * FROM ingest_out").collect())
    # corpus has texts of 0/1/3; batch rows 10 (dup of 1) and 13
    # (normalized dup of 0) drop; 11, 12, 14 survive (within-stream
    # dedup of 11/12 is streaming_dedup's job, chained separately)
    assert got == [11, 12, 14]
    # batch-frame equivalence of the same helper
    batch_got = sorted(
        r["doc_id"] for r in
        SA.stream_dedup_against(_docs(spark, NEW_ROWS), idx).collect())
    assert batch_got == got


def test_substring_against_equals_oneshot_slice(spark):
    """dedup_substrings_against(new, index(old)) == the batch slice of
    one-shot dedup_substrings(old ∪ new) — both span sources (vs-corpus
    and intra-batch) are computed on ORIGINAL text and merged before
    the single cut, so the composition is exactly the one-shot result
    when batch ids sort after corpus ids."""
    from juliadb_jl_spark.functions import incremental as INC

    shared = " ".join(f"s{i}" for i in range(25))
    rep = " ".join(f"r{i}" for i in range(22))
    rows_old = [
        (0, f"alpha beta {shared} gamma delta"),
        (1, " ".join(f"u{i}" for i in range(30))),
    ]
    rows_new = [
        (100, f"head1 head2 {shared} tail1 tail2"),      # vs-corpus cut
        (101, f"{rep} mid1 mid2 mid3"),                  # intra keeper
        (102, f"lead1 {rep} lead2"),                     # intra-batch cut
        (103, " ".join(f"z{i}" for i in range(28))),     # untouched
    ]
    old, new = _docs(spark, rows_old), _docs(spark, rows_new)
    k = 20
    oneshot = DD.dedup_substrings(old.unionByName(new), "doc_id", k=k)
    want = {r["doc_id"]: r["text"] for r in
            oneshot.filter(F.col("doc_id") >= 100).collect()}
    idx = INC.substring_index(old, "doc_id", k=k)
    got = {r["doc_id"]: r["text"] for r in
           INC.dedup_substrings_against(new, idx, "doc_id", k=k).collect()}
    assert got == want
    assert got[100] == "head1 head2 tail1 tail2"   # shared run cut
    assert got[101].startswith("r0 ")              # keeper intact
    assert got[102] == "lead1 lead2"               # intra-batch cut
    assert got[103] == rows_new[3][1]              # untouched bytes
    # span tables agree too (merge + ids)
    # fp_fmt="bin" pinned: the incremental path fingerprints with md5,
    # so EXACT equality is vs the one-shot's md5 form (ADVICE r8)
    sp_one = {tuple(r) for r in
              DD.duplicate_spans(old.unionByName(new), "doc_id", k=k,
                                 fp_fmt="bin")
              .filter(F.col("doc_id") >= 100).collect()}
    sp_inc = {tuple(r) for r in
              INC.duplicate_spans_against(new, idx, "doc_id", k=k).collect()}
    assert sp_inc == sp_one


def test_embedding_against_ivf_recall_ladder(spark):
    """nprobe == n_cells reproduces the exhaustive embedding_against
    answer exactly (every cell probed ⇒ every pair scored by the same
    float64 cosine); small nprobe yields a subset above threshold."""
    from juliadb_jl_spark.functions import incremental as INC
    from juliadb_jl_spark.functions import similarity as SIM

    emb = read_table(spark, SF_DIR, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    tagged, cents = SIM.ivf_build(old, n_cells=4)
    exact = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9)) for r in
             INC.embedding_against(
                 new, INC.embedding_index(old, "vec_id", "embedding"),
                 "vec_id", "embedding", threshold=0.35,
                 exact=True).collect()}
    full_probe = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9))
                  for r in INC.embedding_against_ivf(
                      new, tagged, cents, "vec_id", "embedding",
                      threshold=0.35, nprobe=4).collect()}
    assert full_probe == exact
    narrow = {(r["id_new"], r["id_corpus"], round(r["cosine"], 9))
              for r in INC.embedding_against_ivf(
                  new, tagged, cents, "vec_id", "embedding",
                  threshold=0.35, nprobe=1).collect()}
    assert narrow <= exact
    assert all(c >= 0.35 for _, _, c in narrow)


def test_novelty_against_known_and_fresh(spark):
    """novelty_against: fully-known text scores 0, fully-fresh text
    scores 1, mixed in between; short docs report 1.0 with 0 grams;
    agrees with a pure-Python recount on the real documents table."""
    from juliadb_jl_spark.functions import incremental as INC

    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = INC.novelty_index(old, n=5)
    got = {r["doc_id"]: (r["n_grams"], r["n_known"], r["novelty"])
           for r in INC.novelty_against(new, idx, "doc_id", n=5).collect()}
    # python reference
    def grams(t, n=5):
        toks = t.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    corpus_grams = set()
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i, t in rows.items():
        if i % 2 == 0:
            corpus_grams |= grams(t)
    for i, t in rows.items():
        if i % 2 == 1:
            g = grams(t)
            known = len(g & corpus_grams)
            want = (len(g), known,
                    1 - known / len(g) if g else 1.0)
            assert got[i][:2] == want[:2] and abs(got[i][2] - want[2]) < 1e-12, i
    # synthetic extremes
    o = _docs(spark, [(0, "a b c d e f g h")])
    nw = _docs(spark, [(10, "a b c d e f g h"),       # fully known
                       (11, "p q r s t u v w"),       # fully fresh
                       (12, "x y")])                  # too short
    res = {r["doc_id"]: r for r in
           INC.novelty_against(nw, INC.novelty_index(o), "doc_id").collect()}
    assert res[10]["novelty"] == 0.0 and res[11]["novelty"] == 1.0
    assert res[12]["n_grams"] == 0 and res[12]["novelty"] == 1.0


def test_index_persistence_roundtrip(spark, tmp_path):
    """The indexes are persistable artifacts: save each with jdb.save,
    reload, and dedup/link a batch against the LOADED frame — results
    identical to the in-memory index (the ingest-pipeline contract:
    build today, join tomorrow)."""
    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.functions import incremental as INC

    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    base = str(tmp_path)

    idx = INC.dedup_index(old, "doc_id")
    jdb.save(jdb.table(idx), f"{base}/exact_idx")
    idx2 = jdb.load(f"{base}/exact_idx", spark).df
    assert (sorted(r["doc_id"] for r in
                   INC.dedup_exact_against(new, idx2, "doc_id").collect())
            == sorted(r["doc_id"] for r in
                      INC.dedup_exact_against(new, idx, "doc_id").collect())
            == [11, 14])

    midx = INC.minhash_index(old, "doc_id", num_hashes=16)
    jdb.save(jdb.table(midx), f"{base}/mh_idx")
    midx2 = jdb.load(f"{base}/mh_idx", spark).df
    kw = dict(num_hashes=16, bands=8, threshold=0.3, corpus_df=old)
    got_mem = {(r["id_new"], r["id_corpus"], round(r["jaccard"], 12))
               for r in INC.minhash_against(new, midx, "doc_id",
                                            **kw).collect()}
    got_disk = {(r["id_new"], r["id_corpus"], round(r["jaccard"], 12))
                for r in INC.minhash_against(new, midx2, "doc_id",
                                             **kw).collect()}
    assert got_disk == got_mem and (10, 1) in {p[:2] for p in got_mem}

    sidx = INC.substring_index(old, "doc_id", k=5)
    jdb.save(jdb.table(sidx), f"{base}/sub_idx")
    sidx2 = jdb.load(f"{base}/sub_idx", spark).df
    a = {(r["doc_id"], r["text"]) for r in
         INC.dedup_substrings_against(new, sidx, "doc_id", k=5).collect()}
    b = {(r["doc_id"], r["text"]) for r in
         INC.dedup_substrings_against(new, sidx2, "doc_id", k=5).collect()}
    assert a == b


def test_merge_index_family_exactness(spark):
    """merge_*_index contracts: minhash/embedding union of id-disjoint
    batches == the one-shot index; substring/novelty deltas are disjoint
    from the index and union to exactly the one-shot key set."""
    from juliadb_jl_spark.functions import incremental as INC

    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    both = old.unionByName(new)

    m = INC.merge_minhash_index(INC.minhash_index(old, "doc_id", num_hashes=16),
                                INC.minhash_index(new, "doc_id", num_hashes=16))
    one = INC.minhash_index(both, "doc_id", num_hashes=16)
    assert (sorted(map(tuple, m.collect()))
            == sorted(map(tuple, one.collect())))

    emb = read_table(spark, SF_DIR, "embeddings")
    eold = emb.filter(F.col("vec_id") % 2 == 0)
    enew = emb.filter(F.col("vec_id") % 2 == 1)
    em = INC.merge_embedding_index(
        INC.embedding_index(eold, "vec_id", "embedding"),
        INC.embedding_index(enew, "vec_id", "embedding"))
    eone = INC.embedding_index(emb, "vec_id", "embedding")
    key = lambda rows: sorted((r["id"], tuple(r["v"]), r["bucket"])  # noqa: E731
                              for r in rows)
    assert key(em.collect()) == key(eone.collect())

    sidx = INC.substring_index(old, "doc_id", k=20)
    delta = INC.merge_substring_index(sidx, INC.substring_index(new, "doc_id",
                                                                k=20))
    idx_fps = {r["fp"] for r in sidx.collect()}
    delta_fps = {r["fp"] for r in delta.collect()}
    one_fps = {r["fp"] for r in
               INC.substring_index(both, "doc_id", k=20).collect()}
    assert not (delta_fps & idx_fps) and (idx_fps | delta_fps) == one_fps

    nidx = INC.novelty_index(old, n=5)
    ndelta = INC.merge_novelty_index(nidx, INC.novelty_index(new, n=5))
    idx_g = {r["gram"] for r in nidx.collect()}
    d_g = {r["gram"] for r in ndelta.collect()}
    one_g = {r["gram"] for r in INC.novelty_index(both, n=5).collect()}
    assert not (d_g & idx_g) and (idx_g | d_g) == one_g
    # and the merged index scores a later batch exactly like one-shot
    probe = _docs(spark, NEW_ROWS)
    a = sorted(map(tuple, INC.novelty_against(
        probe, nidx.unionByName(ndelta), "doc_id", n=5).collect()))
    b = sorted(map(tuple, INC.novelty_against(
        probe, INC.novelty_index(both, n=5), "doc_id", n=5).collect()))
    assert a == b


def test_bucketed_index_skips_index_shuffle(spark):
    """save_index_bucketed layout contract: with the index persisted
    bucketed on its join key, every *_against plan scans the index
    `Bucketed: true` with NO exchange above it (only the batch side
    shuffles — strictly fewer exchanges than the unbucketed plan), and
    results are identical to the unbucketed index."""
    from juliadb_jl_spark.functions import incremental as INC

    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    emb = read_table(spark, SF_DIR, "embeddings")
    eold = emb.filter(F.col("vec_id") % 2 == 0)
    enew = emb.filter(F.col("vec_id") % 2 == 1)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def n_exch(p):
        return p.count("Exchange hashpartitioning")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # minhash: pre-banded, bucketed on (band, bucket)
        midx = INC.minhash_index(old, "doc_id", num_hashes=16)
        INC.save_index_bucketed(
            INC.minhash_index_banded(midx, num_hashes=16, bands=8),
            "t_mh_idx_b", "minhash", buckets=8)
        midx_b = INC.load_index("t_mh_idx_b", spark)
        kw = dict(num_hashes=16, bands=8, verify=False, broadcast_new=False)
        plain = INC.minhash_against(new, midx, "doc_id", **kw)
        buck = INC.minhash_against(new, midx_b, "doc_id", **kw)
        pp, pb = plan(plain), plan(buck)
        assert "Bucketed: true" in pb and "Bucketed: true" not in pp
        assert n_exch(pb) < n_exch(pp), pb
        assert ({tuple(r) for r in plain.collect()}
                == {tuple(r) for r in buck.collect()})

        # embedding: bucketed on bucket
        eidx = INC.embedding_index(eold, "vec_id", "embedding")
        INC.save_index_bucketed(eidx, "t_emb_idx_b", "embedding", buckets=8)
        eidx_b = INC.load_index("t_emb_idx_b", spark)
        lp = INC.embedding_against(enew, eidx, "vec_id", "embedding",
                                   threshold=0.35, broadcast_new=False)
        lb = INC.embedding_against(enew, eidx_b, "vec_id", "embedding",
                                   threshold=0.35, broadcast_new=False)
        pp, pb = plan(lp), plan(lb)
        assert "Bucketed: true" in pb and n_exch(pb) < n_exch(pp), pb
        assert ({(r[0], r[1], round(r[2], 9)) for r in lp.collect()}
                == {(r[0], r[1], round(r[2], 9)) for r in lb.collect()})

        # exact: bucketed on fp (anti-join right side reads in place)
        xidx = INC.dedup_index(old, "doc_id")
        INC.save_index_bucketed(xidx, "t_ex_idx_b", "exact", buckets=8)
        xidx_b = INC.load_index("t_ex_idx_b", spark)
        kp = INC.dedup_exact_against(new, xidx, "doc_id")
        kb = INC.dedup_exact_against(new, xidx_b, "doc_id")
        pp, pb = plan(kp), plan(kb)
        assert "Bucketed: true" in pb and n_exch(pb) < n_exch(pp), pb
        assert (sorted(r["doc_id"] for r in kp.collect())
                == sorted(r["doc_id"] for r in kb.collect()))

        # substring: bucketed on fp (semi-join right side reads in place)
        sidx = INC.substring_index(old, "doc_id", k=20)
        INC.save_index_bucketed(sidx, "t_sub_idx_b", "substring", buckets=8)
        sidx_b = INC.load_index("t_sub_idx_b", spark)
        sp = INC.duplicate_spans_against(new, sidx, "doc_id", k=20)
        sb = INC.duplicate_spans_against(new, sidx_b, "doc_id", k=20)
        assert "Bucketed: true" in plan(sb)
        assert ({tuple(r) for r in sp.collect()}
                == {tuple(r) for r in sb.collect()})
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        for t in ("t_mh_idx_b", "t_emb_idx_b", "t_ex_idx_b", "t_sub_idx_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_clear_dup_stats(spark):
    """clear_dup_stats drops the memoized duplicate-structure hints (the
    session-lifetime guard for overwritten input paths)."""
    import juliadb_jl_spark as jdb

    docs = read_table(spark, SF_DIR, "documents")
    DD._dup_stats(docs, "doc_id", "text")
    assert len(DD._DUP_STATS_MEMO) >= 1
    assert jdb.clear_dup_stats() >= 1
    assert not DD._DUP_STATS_MEMO


def test_minhash_crcperm_three_way_parity(spark):
    """The crc32perm signature's THREE implementations must be
    BIT-identical: the fused tokens→byte-slice-shingles→signature
    Arrow pass (shipped), the from-shingle-sets Arrow pass (the
    lsh_pairs shape that reuses a persisted shingle frame), and the
    JVM expression twin (explode + F.crc32 base + 32-min agg) —
    including empty/None/unicode/dup-window docs, which all forms must
    drop when shingle-less."""
    from tests.test_property import signature_crcperm_expr
    docs = [(1, "a b c d e f g"), (2, "x y z " * 10), (3, ""),
            (4, None), (5, "déjà vu encore une fois"),
            (6, "a b c d e f g"), (7, "one two")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets_ = DD._shingle_sets(df, "doc_id", "text", 3)
    fused = {r["id"]: tuple(r["signature"])
             for r in DD.minhash_signature(df, "doc_id", k=3,
                                           num_hashes=16).collect()}
    from_sets = {r["id"]: tuple(r["signature"])
                 for r in DD._signature_from_sets(
                     sets_, 16, "crc32perm").collect()}
    expr = {r["id"]: tuple(r["signature"])
            for r in signature_crcperm_expr(sets_, 16).collect()}
    assert fused == from_sets == expr
    assert set(fused) == {1, 2, 5, 6} and fused[1] == fused[6]
    # values live in the permutation family's range
    assert all(0 <= v < (1 << 31) - 1
               for s in fused.values() for v in s)


@pytest.mark.parametrize("fam", ["crc32perm", "portable"])
def test_stream_minhash_against_matches_batch(spark, tmp_path, fam):
    """Streaming near-dup flagging: per-row signatures + banding +
    stream-static join across micro-batches produce exactly the batch
    candidate set (distinct pairs == minhash_against verify=False), in
    both MinHash families."""
    from juliadb_jl_spark.functions import incremental as INC
    from juliadb_jl_spark.streaming import aggregate as SA

    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = INC.minhash_index(old, "doc_id", num_hashes=16, hash_family=fam)
    want = {tuple(r) for r in
            INC.minhash_against(new, idx, "doc_id", num_hashes=16,
                                bands=8, verify=False,
                                hash_family=fam).collect()}
    src = str(tmp_path / "mh_stream")
    halves = new.randomSplit([0.5, 0.5], seed=3)
    for i, h in enumerate(halves):
        h.coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = SA.stream_minhash_against(stream, idx, "doc_id", num_hashes=16,
                                    bands=8, hash_family=fam)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(f"mh_out_{fam}").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["id_new"], r["id_corpus"]) for r in
           spark.sql(f"SELECT DISTINCT * FROM mh_out_{fam}").collect()}
    assert got == want and got


def test_incremental_plan_shapes(spark):
    """Physical-plan audit: in broadcast mode the BATCH side broadcasts
    (BroadcastHashJoin, no SortMergeJoin fallback anywhere) so the
    corpus/index side is joined in place — the plan shape the 100-TB
    design depends on."""
    from juliadb_jl_spark.functions import incremental as INC

    docs = read_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(INC.minhash_against(new, INC.minhash_index(old, "doc_id"),
                                 "doc_id", verify=False,
                                 broadcast_new=True))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    emb = read_table(spark, SF_DIR, "embeddings")
    eold = emb.filter(F.col("vec_id") % 2 == 0)
    enew = emb.filter(F.col("vec_id") % 2 == 1)
    p = plan(INC.embedding_against(
        enew, INC.embedding_index(eold, "vec_id", "embedding"),
        "vec_id", "embedding", threshold=0.35, broadcast_new=True))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # exact path: hash-partitioned joins + aggregates, never sort-merge
    p = plan(INC.dedup_exact_against(new, INC.dedup_index(old, "doc_id"),
                                     "doc_id"))
    assert "SortMergeJoin" not in p


def test_stream_full_ingest_dedup_composition(spark, tmp_path):
    """The documented continuous-ingest composition — stream_dedup_against
    (vs corpus) chained with streaming_dedup on the fingerprint (within
    stream) — keeps exactly what batch dedup_exact_against keeps, when
    micro-batches arrive in id order (first-seen == min-id)."""
    import pandas as pd
    from juliadb_jl_spark.functions import incremental as INC
    from juliadb_jl_spark.functions.text import fingerprint
    from juliadb_jl_spark.streaming import aggregate as SA

    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    idx = INC.dedup_index(old, "doc_id")
    want = sorted(r["doc_id"] for r in
                  INC.dedup_exact_against(new, idx, "doc_id").collect())
    src = str(tmp_path / "full_ingest")
    for i, chunk in enumerate([NEW_ROWS[:2], NEW_ROWS[2:4], NEW_ROWS[4:]]):
        spark.createDataFrame(pd.DataFrame(chunk, columns=["doc_id", "text"])
                              ).coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = SA.stream_dedup_against(stream, idx) \
        .withColumn("__fp", fingerprint(F.col("text")))
    out = SA.streaming_dedup(out, "__fp").drop("__fp")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("full_ingest_out").start())
    q.processAllAvailable()
    q.stop()
    got = sorted(r["doc_id"] for r in
                 spark.sql("SELECT * FROM full_ingest_out").collect())
    assert got == want == [11, 14]


def test_index_family_metadata_validation(spark, tmp_path):
    """ADVICE r7 (medium): an index probed with a mismatched hash
    family / parameters used to join ZERO buckets silently. Indexes now
    carry their build parameters as column metadata (surviving parquet
    persistence) and check_index_family raises on disagreement; a
    metadata-less pre-r8 index of the removed xxhash64 family is caught
    by the signature value-range heuristic (crc32perm values are
    mod 2^31-1, xxhash64's are full-range int64), and an index that
    records hash_family="xxhash64" raises too — both with a rebuild
    message, since no probe family can read them."""
    import pytest

    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.functions import incremental as INC

    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    idx = INC.minhash_index(old, "doc_id", num_hashes=16)
    meta = dict(idx.schema["signature"].metadata)
    assert meta == {"hash_family": "crc32perm", "num_hashes": 16, "k": 3}

    # family mismatch raises
    with pytest.raises(ValueError, match="hash_family: index"):
        INC.minhash_against(new, idx, "doc_id", num_hashes=16, bands=8,
                            verify=False, hash_family="portable")
    # parameter mismatch raises
    with pytest.raises(ValueError, match="num_hashes"):
        INC.minhash_against(new, idx, "doc_id", num_hashes=32, bands=8,
                            verify=False)
    with pytest.raises(ValueError, match="k:"):
        INC.minhash_against(new, idx, "doc_id", num_hashes=16, bands=8,
                            k=5, verify=False)

    # metadata survives parquet persistence — the reloaded index still
    # knows its family and still raises
    jdb.save(jdb.table(idx), str(tmp_path / "mh_idx_meta"))
    idx2 = jdb.load(str(tmp_path / "mh_idx_meta"), spark).df
    assert dict(idx2.schema["signature"].metadata) == meta
    with pytest.raises(ValueError, match="hash_family: index"):
        INC.minhash_against(new, idx2, "doc_id", num_hashes=16, bands=8,
                            verify=False, hash_family="portable")

    # the banded form validates its input and stamps bucket metadata
    with pytest.raises(ValueError, match="num_hashes"):
        INC.minhash_index_banded(idx, num_hashes=32, bands=8)
    banded = INC.minhash_index_banded(idx, num_hashes=16, bands=8)
    bmeta = dict(banded.schema["bucket"].metadata)
    assert bmeta == {"hash_family": "crc32perm", "num_hashes": 16,
                     "bands": 8, "k": 3}
    with pytest.raises(ValueError, match="bands"):
        INC.minhash_against(new, banded, "doc_id", num_hashes=16,
                            bands=4, verify=False)

    # the streaming probe validates too (static index side, plan time)
    from juliadb_jl_spark.streaming import aggregate as SA
    with pytest.raises(ValueError, match="hash_family: index"):
        SA.stream_minhash_against(new, idx, "doc_id", num_hashes=16,
                                  bands=8, hash_family="portable")

    # pre-r8 metadata-less index built under the old xxhash64 default:
    # probing it is caught by the value-range heuristic, with a rebuild
    # message (no probe family can read it)
    from tests.test_property import signature_xxhash64_expr
    legacy = signature_xxhash64_expr(
        DD._shingle_sets(old, "doc_id", "text", 3), 16)
    assert not dict(legacy.schema["signature"].metadata or {})
    for probe in (lambda: INC.minhash_against(
                      new, legacy, "doc_id", num_hashes=16, bands=8,
                      verify=False),
                  lambda: SA.stream_minhash_against(
                      new, legacy, "doc_id", num_hashes=16, bands=8),
                  lambda: INC.minhash_index_banded(legacy, num_hashes=16,
                                                   bands=8)):
        with pytest.raises(ValueError, match="Rebuild the index") as e:
            probe()
        assert "xxhash64" in str(e.value)
        assert "Pass hash_family" not in str(e.value)
    # ...and so does an index whose metadata records the xxhash64 family
    tagged = legacy.withMetadata("signature", {
        "hash_family": "xxhash64", "num_hashes": 16, "k": 3})
    with pytest.raises(ValueError, match="Rebuild the index") as e:
        INC.minhash_against(new, tagged, "doc_id", num_hashes=16,
                            bands=8, verify=False)
    assert "'xxhash64'" in str(e.value)
    assert "Pass hash_family" not in str(e.value)


def test_unknown_hash_family_and_bad_band_split_rejected(spark):
    """An unknown hash family raises ValueError at every MinHash and
    SimHash entry point — a typo such as "crc32" used to fall through
    to the xxhash64 branches and return their signatures — and so does
    a band split that does not divide num_hashes or has bands < 1
    (formerly a bare assert, stripped under ``python -O``, and a
    ZeroDivisionError for bands=0).  Every check runs before a job."""
    from juliadb_jl_spark.streaming import aggregate as SA

    docs = _docs(spark, OLD_ROWS)
    idx = INC.minhash_index(docs, "doc_id", num_hashes=16)
    sig = spark.createDataFrame([(1, [0] * 16)],
                                "id long, signature array<long>")
    minhash_calls = [
        lambda fam: DD.minhash_signature(docs, "doc_id", hash_family=fam),
        lambda fam: DD.minhash_lsh_pairs(docs, "doc_id", hash_family=fam),
        lambda fam: DD.band_buckets(sig, 8, 2, hash_family=fam),
        lambda fam: INC.minhash_index(docs, "doc_id", hash_family=fam),
        lambda fam: INC.minhash_index_banded(idx, num_hashes=16,
                                             hash_family=fam),
        lambda fam: INC.minhash_against(docs, idx, "doc_id",
                                        num_hashes=16, verify=False,
                                        hash_family=fam),
        lambda fam: SA.stream_minhash_against(docs, idx, "doc_id",
                                              num_hashes=16,
                                              hash_family=fam),
    ]
    for call in minhash_calls:
        for fam in ("crc32", "xxhash64", "CRC32PERM"):
            with pytest.raises(ValueError, match="hash_family must be"):
                call(fam)
    for call in (lambda: DD.simhash(docs, "doc_id", hash_family="crc32"),
                 lambda: DD.simhash_pairs(docs, "doc_id",
                                          hash_family="crc32perm")):
        with pytest.raises(ValueError, match="hash_family must be"):
            call()

    split_calls = [
        lambda b: DD.minhash_lsh_pairs(docs, "doc_id", num_hashes=16,
                                       bands=b),
        lambda b: INC.minhash_index_banded(idx, num_hashes=16, bands=b),
        lambda b: INC.minhash_against(docs, idx, "doc_id", num_hashes=16,
                                      bands=b, verify=False),
        lambda b: SA.stream_minhash_against(docs, idx, "doc_id",
                                            num_hashes=16, bands=b),
    ]
    for call in split_calls:
        for bands in (0, -2, 3):
            with pytest.raises(ValueError, match="bands must be"):
                call(bands)


def test_dedup_exact_against_keys_only_matches_full(spark):
    """keys_only=True returns exactly the full path's surviving id set
    (the r9 optimization that lets id-only consumers skip the
    row-recovery semi-join)."""
    old, new = _docs(spark, OLD_ROWS), _docs(spark, NEW_ROWS)
    idx = INC.dedup_index(old, "doc_id")
    full = INC.dedup_exact_against(new, idx, "doc_id")
    keys = INC.dedup_exact_against(new, idx, "doc_id", keys_only=True)
    assert keys.columns == ["doc_id"]
    assert (sorted(r["doc_id"] for r in full.select("doc_id").collect())
            == sorted(r["doc_id"] for r in keys.collect()))


def test_dedup_exact_cosourced_matches_two_operator_path(spark):
    """The single-scan cosourced form (r10) is result-identical to
    dedup_index + dedup_exact_against over disjoint filters of one
    table — on the real testdata corpus (both keys_only modes) and on
    an adversarial inline frame (cross-half dups, intra-batch dups,
    normalized dups, NULL texts in both halves, which exercise the
    NULL-fp anti-join semantics the fused aggregation must reproduce:
    NULL fingerprints never match the corpus, dedup only intra-batch)."""
    def both(df, corpus_pred, batch_pred, keys_only):
        idx = INC.dedup_index(df.filter(corpus_pred), "doc_id")
        generic = INC.dedup_exact_against(df.filter(batch_pred), idx,
                                          "doc_id", keys_only=keys_only)
        fused = INC.dedup_exact_cosourced(df, "doc_id", corpus_pred,
                                          batch_pred, keys_only=keys_only)
        assert fused.columns == generic.columns
        key = repr  # None-safe total order (NULL ids sort as 'None')
        assert (sorted(map(tuple, generic.collect()), key=key)
                == sorted(map(tuple, fused.collect()), key=key))
        return fused

    docs = read_table(spark, SF_DIR, "documents")
    even, odd = F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1
    got = both(docs, even, odd, keys_only=True)
    assert got.count() > 0
    both(docs, even, odd, keys_only=False)

    nasty = spark.createDataFrame(
        [(0, "same text"), (2, None), (4, "corpus only"),
         (1, "SAME  text"),          # normalized dup of corpus 0 -> dropped
         (3, None), (5, None),       # NULL fps: survive corpus, dedup intra
         (7, "fresh batch text"),
         (9, "fresh  BATCH text"),   # normalized intra-batch dup of 7
         ], "doc_id long, text string")
    got = both(nasty, even, odd, keys_only=True)
    assert sorted(r["doc_id"] for r in got.collect()) == [3, 7]
    both(nasty, even, odd, keys_only=False)
    # empty batch and empty corpus degenerate cases, both modes
    both(nasty, even, F.lit(False), keys_only=True)
    both(nasty, even, F.lit(False), keys_only=False)
    got = both(nasty, F.lit(False), odd, keys_only=True)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 7]
    # NULL batch ids: the generic min-id groupBy emits a NULL-id keeper
    # row for an all-NULL-id batch group; the fused form must match
    # (batch-presence tag, not __bmin IS NOT NULL — review finding)
    nullid = spark.createDataFrame(
        [(0, "corpus text"), (None, "corpus text"),
         (None, "batch only text"), (None, "batch  ONLY text"),
         (1, "batch second text")],
        "doc_id long, text string")
    is_corpus = F.col("text").startswith("corpus")
    is_batch = ~F.col("text").startswith("corpus")
    got = both(nullid, is_corpus, is_batch, keys_only=True)
    assert sorted((r["doc_id"] is None) for r in got.collect()) \
        == [False, True]


def test_dedup_exact_cosourced_single_scan_plan(spark, monkeypatch):
    """keys_only=True: plan scans the source ONCE, no join (the generic
    two-operator path scans it twice) — the shape the q9b optimization
    claims. keys_only=False adds the row-recovery semi-join (2 scans,
    still one fewer than the generic pair's 3-subtree shape), as the
    docstring qualifies."""
    from juliadb_jl_spark.sources import testdata
    # the scan counts below assume a plain parquet read: no cached
    # in-memory copy from SPARK_GRAFT_CACHE_INPUT or an earlier read
    monkeypatch.delenv("SPARK_GRAFT_CACHE_INPUT", raising=False)
    monkeypatch.setattr(testdata, "_CACHE", {})
    docs = read_table(spark, SF_DIR, "documents")
    even, odd = F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1
    fused = INC.dedup_exact_cosourced(docs, "doc_id", even, odd,
                                      keys_only=True)
    p = fused._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan parquet") == 1 and "Join" not in p
    full = INC.dedup_exact_cosourced(docs, "doc_id", even, odd,
                                     keys_only=False)
    p = full._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan parquet") == 2 and "LeftSemi" in p
