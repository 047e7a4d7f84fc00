"""Training-pipeline operators: text analysis, dedup, similarity,
multimodal plumbing, streaming aggs, ML features.
"""

import importlib.util

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import juliadb_jl_spark as jdb
from juliadb_jl_spark.functions import dedup as DD
from juliadb_jl_spark.functions import multimodal as MM
from juliadb_jl_spark.functions import similarity as SIM
from juliadb_jl_spark.functions import text as TX
from juliadb_jl_spark.streaming import aggregate as SA
from tests.conftest import check_vs_oracle


def test_token_count_vs_oracle(tables, duck):
    docs = tables["documents"]
    out = docs.df.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
    check_vs_oracle(out, duck, """
        SELECT doc_id, CASE WHEN length(trim(text))=0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
        FROM documents""")


def test_text_features_deterministic(tables):
    docs = tables["documents"]
    feats = TX.add_text_features(docs.df).limit(50).toPandas()
    assert (feats["n_tokens"] > 0).all()
    assert set(feats["lang_pred"]) <= {"en", "fr", "de", "es", "zh", "und"}
    assert ((feats["quality"] >= 0) & (feats["quality"] <= 1)).all()
    assert feats["fingerprint"].str.len().eq(32).all()


def test_shingles(spark):
    t = spark.createDataFrame([("a b c d",)], "text string")
    got = t.select(TX.shingles(F.col("text"), 3).alias("s")).head(1)[0]["s"]
    assert got == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "text string")
    assert short.select(TX.shingles(F.col("text"), 3).alias("s")).head(1)[0]["s"] == []


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "unique doc")],
        "doc_id long, text string")
    out = DD.dedup_exact(df, "doc_id").toPandas()
    # normalization collapses case+whitespace → ids 1 and 3 survive
    assert sorted(out["doc_id"]) == [1, 3]


def test_ngram_jaccard_golden(spark):
    df = spark.createDataFrame([
        (1, "a b c d e f"),
        (2, "a b c d e g"),   # shares shingles with 1
        (3, "x y z w v u"),
    ], "doc_id long, text string")
    out = DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=0.3).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    # doc1: {abc,bcd,cde,def}, doc2: {abc,bcd,cde,deg} → 3/(4+4-3)=0.6
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert abs(row["jaccard"] - 0.6) < 1e-12


def test_minhash_lsh_finds_neardups(tables):
    docs = tables["documents"]
    pairs = DD.minhash_lsh_pairs(docs.df, "doc_id", k=3, num_hashes=32,
                                 bands=16, threshold=0.4)
    exact = DD.ngram_jaccard_pairs(docs.df, "doc_id", k=3, threshold=0.4)
    p, e = pairs.toPandas(), exact.toPandas()
    # verified LSH output must be a subset of exact pairs, and at 16 bands
    # of 2 rows the recall at j>=0.4 should be high
    pk = set(zip(p["id_a"], p["id_b"]))
    ek = set(zip(e["id_a"], e["id_b"]))
    assert pk <= ek
    if ek:
        assert len(pk) / len(ek) >= 0.8


def test_simhash_pairs(tables):
    docs = tables["documents"]
    sh = DD.simhash(docs.df, "doc_id").toPandas()
    # near-dup docs legitimately collide; most should be distinct
    assert sh["simhash"].nunique() >= 0.95 * len(sh)
    pairs = DD.simhash_pairs(docs.df, "doc_id", max_hamming=16).toPandas()
    assert (pairs["hamming"] <= 16).all()


def _persisted_rdd_ids(spark):
    """Ids of the RDDs the session holds persisted right now (ids, not
    a count, so a concurrent cleanup of an older RDD cannot mask a
    new leak)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_simhash_pairs_releases_signature_persist(spark):
    """The banded self-join's persisted signature frame is registered
    as scratch: after the consuming action and release_scratch() the
    session holds no RDD it did not hold before the call."""
    from juliadb_jl_spark.functions.scratch import release_scratch
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3}") for i in range(20)],
        "doc_id long, text string")
    release_scratch()
    before = _persisted_rdd_ids(spark)
    assert DD.simhash_pairs(df, "doc_id", unique_lift=False).count() > 0
    release_scratch()
    assert _persisted_rdd_ids(spark) - before == set()


def test_cosine_topk_vs_numpy(tables):
    emb = tables["embeddings"].df
    queries = emb.filter(F.col("vec_id") < 3)
    out = SIM.cosine_topk(emb, queries, k=5).toPandas()
    assert len(out) == 15
    # numpy oracle
    pdf = emb.toPandas()
    V = np.array([list(v) for v in pdf["embedding"]], dtype="float64")
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(V, axis=1)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = V @ V[qi] / (norms * norms[qi])
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
        expect = [ids[i] for i in order if ids[i] != qid][:5]
        got = out[out["query_id"] == qid].sort_values("rank")["neighbor_id"].tolist()
        assert got == expect, f"query {qid}: {got} vs {expect}"


def test_ivf_topk_recall(tables):
    emb = tables["embeddings"].df
    queries = emb.filter(F.col("vec_id") < 10)
    tagged, cents = SIM.ivf_build(emb, n_cells=8)
    ann = SIM.ivf_topk(tagged, cents, queries, k=5, nprobe=3).toPandas()
    exact = SIM.cosine_topk(emb, queries, k=5).toPandas()
    hits = 0
    for qid in range(10):
        a = set(ann[ann["query_id"] == qid]["neighbor_id"])
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        hits += len(a & e)
    assert hits / 50 >= 0.6  # nprobe 3/8 cells → decent recall


def test_embedding_neardup(tables, spark):
    emb = tables["embeddings"].df
    # plant an exact duplicate pair
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    df = emb.unionByName(dup)
    pairs = DD.embedding_neardup_pairs(df, "vec_id", "embedding",
                                       threshold=0.999).toPandas()
    assert (0, 10000) in set(zip(pairs["id_a"], pairs["id_b"]))


def test_embedding_pairs_exact_matmul(tables, spark):
    # the exact-pairs baseline generates candidates with a blocked matmul
    # (sf1 sweep finding: the old crossJoin ran 400M interpreted-HOF
    # cosines on 2 tasks); the pair set and verified cosines must equal a
    # pure-numpy brute force over the same corpus
    import numpy as np
    emb = tables["embeddings"].df.filter(F.col("vec_id") < 300)
    got = DD.embedding_pairs_exact(emb, "vec_id", "embedding",
                                   threshold=0.35).toPandas()
    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.array([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    ids = pdf["vec_id"].to_numpy()
    expect = {(ids[i], ids[j])
              for i in range(len(ids)) for j in range(len(ids))
              if ids[i] < ids[j] and S[i, j] >= 0.35}
    assert set(zip(got["id_a"], got["id_b"])) == expect
    by_pair = {(a, b): c for a, b, c in
               zip(got["id_a"], got["id_b"], got["cosine"])}
    for (i, j) in [(i, j) for i in range(len(ids)) for j in range(len(ids))
                   if (ids[i], ids[j]) in expect]:
        assert abs(by_pair[(ids[i], ids[j])] - S[i, j]) < 1e-9


def test_release_scratch_unpersists_operator_cache(spark, tables):
    # ADVICE r2 (low): lazy-result operators persist shared intermediates;
    # release_scratch() is the documented cleanup path for long sessions
    import juliadb_jl_spark as jdb
    from juliadb_jl_spark.functions.text import collocations
    jdb.release_scratch(blocking=True)  # flush leftovers from other tests
    docs = tables["documents"].df
    # NOTE r6: duplicate_spans no longer persists its window-fp table
    # (the 5M-doc rung showed the cache pinning the memory its own
    # keeper aggregation needs); collocations still registers scratch.
    collocations(docs, "text").count()
    released = jdb.release_scratch(blocking=True)
    assert released >= 1
    assert jdb.release_scratch() == 0
    # operators still work after release (they re-persist)
    assert collocations(docs, "text").count() >= 0
    jdb.release_scratch(blocking=True)


def test_embedding_neardup_plan_and_empty(spark, tables):
    # VERDICT r2 wrong #3/#4: the bucket self-join must be co-partitioned
    # (shuffled, not AQE-broadcast into one task), and an empty corpus must
    # return an empty typed result instead of IndexError
    emb = tables["embeddings"].df
    out = DD.embedding_neardup_pairs(emb, "vec_id", "embedding",
                                     threshold=0.999)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in phys or "SortMergeJoin" in phys, phys
    empty = emb.filter(F.lit(False))
    got = DD.embedding_neardup_pairs(empty, "vec_id", "embedding")
    assert got.count() == 0
    assert set(got.columns) == {"id_a", "id_b", "cosine"}


def test_multimodal_plumbing(tables):
    docs = tables["documents"].df
    media = MM.attach_binary(docs, "text", "doc_id", mime="text/plain")
    meta = MM.media_metadata(media).toPandas()
    assert (meta["size_bytes"] > 0).all()
    decoded = MM.decode_media(media, fake=True).toPandas()
    assert ((decoded["width"] >= 16) & (decoded["width"] < 256)).all()
    feats = MM.extract_features(media, fake=True).toPandas()
    assert all(len(v) == 8 for v in feats["features"])
    # real path on non-image bytes: null dims + format, checksum still real
    real = MM.decode_media(media, fake=False).toPandas()
    assert real["width"].isna().all() and real["format"].isna().all()
    assert (real["checksum"].str.len() == 32).all()


def _golden_images():
    """Hand-built minimal-but-valid container headers (public specs:
    PNG RFC 2083, GIF89a, BMP BITMAPINFOHEADER, JPEG ITU T.81)."""
    png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x08\x06\x00\x00\x00")
    gif = (b"GIF89a" + (320).to_bytes(2, "little")
           + (200).to_bytes(2, "little") + b"\xf7\x00\x00")
    bmp = (b"BM" + b"\x00" * 12 + (40).to_bytes(4, "little")
           + (800).to_bytes(4, "little")
           + (-600).to_bytes(4, "little", signed=True))  # top-down rows
    jfif = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    jpeg = (b"\xff\xd8" + b"\xff\xe0" + (2 + len(jfif)).to_bytes(2, "big")
            + jfif + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big")
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    return {"png": (png, 640, 480), "gif": (gif, 320, 200),
            "bmp": (bmp, 800, 600), "jpeg": (jpeg, 640, 480)}


def test_parse_image_header_golden():
    golden = _golden_images()
    for fmt, (raw, w, h) in golden.items():
        assert MM.parse_image_header(raw) == (w, h, fmt), fmt
    assert MM.parse_image_header(b"") == (None, None, None)
    assert MM.parse_image_header(b"not an image at all") == (None, None, None)
    # truncated PNG signature-only: unrecognized, not a crash
    assert MM.parse_image_header(b"\x89PNG\r\n\x1a\n")[0] is None
    # JPEG with SOS before any SOF: walks off cleanly
    assert MM.parse_image_header(b"\xff\xd8\xff\xda\x00\x04\x00\x00") == \
        (None, None, "jpeg")


def _golden_av():
    """Hand-built minimal-but-valid audio/video containers (public specs:
    RIFF/WAVE, FLAC STREAMINFO, ISO BMFF 14496-12, RIFF/AVI)."""
    fmt_chunk = (b"fmt " + (16).to_bytes(4, "little")
                 + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
                 + (44100).to_bytes(4, "little")
                 + (176400).to_bytes(4, "little")
                 + (4).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    data_chunk = b"data" + (176400).to_bytes(4, "little")  # 1.000 s
    wav_body = b"WAVE" + fmt_chunk + data_chunk
    wav = b"RIFF" + len(wav_body).to_bytes(4, "little") + wav_body

    # sr=48000 ch=2 bits=16 total=96000 samples -> 2000 ms
    si = bytearray(34)
    si[10], si[11] = 48000 >> 12, (48000 >> 4) & 0xFF
    si[12] = ((48000 & 0xF) << 4) | ((2 - 1) << 1) | ((16 - 1) >> 4)
    si[13] = (((16 - 1) & 0xF) << 4) | ((96000 >> 32) & 0xF)
    si[14:18] = (96000).to_bytes(4, "big")
    flac = b"fLaC" + bytes([0x00]) + (34).to_bytes(3, "big") + bytes(si)

    ftyp = ((20).to_bytes(4, "big") + b"ftypisom"
            + (0x200).to_bytes(4, "big") + b"isom")
    mvhd = ((108).to_bytes(4, "big") + b"mvhd" + bytes(4)  # v0, flags
            + bytes(8)                                     # ctime, mtime
            + (600).to_bytes(4, "big")                     # timescale
            + (3000).to_bytes(4, "big")                    # dur -> 5000 ms
            + bytes(108 - 8 - 20))
    tkhd = ((92).to_bytes(4, "big") + b"tkhd"
            + bytes(92 - 8 - 8)
            + (1920 << 16).to_bytes(4, "big")
            + (1080 << 16).to_bytes(4, "big"))
    trak = (8 + len(tkhd)).to_bytes(4, "big") + b"trak" + tkhd
    moov_body = mvhd + trak
    mp4 = ftyp + (8 + len(moov_body)).to_bytes(4, "big") + b"moov" + moov_body

    avih_data = bytearray(56)
    avih_data[0:4] = (33333).to_bytes(4, "little")    # usec/frame
    avih_data[16:20] = (300).to_bytes(4, "little")    # frames -> 9999 ms
    avih_data[32:36] = (1280).to_bytes(4, "little")
    avih_data[36:40] = (720).to_bytes(4, "little")
    avih = b"avih" + (56).to_bytes(4, "little") + bytes(avih_data)
    hdrl = b"LIST" + (4 + len(avih)).to_bytes(4, "little") + b"hdrl" + avih
    avi_body = b"AVI " + hdrl
    avi = b"RIFF" + len(avi_body).to_bytes(4, "little") + avi_body
    return {
        "wav": (wav, dict(sample_rate=44100, channels=2, bits=16,
                          duration_ms=1000, width=None, height=None)),
        "flac": (flac, dict(sample_rate=48000, channels=2, bits=16,
                            duration_ms=2000, width=None, height=None)),
        "mp4": (mp4, dict(sample_rate=None, channels=None, bits=None,
                          duration_ms=5000, width=1920, height=1080)),
        "avi": (avi, dict(sample_rate=None, channels=None, bits=None,
                          duration_ms=9999, width=1280, height=720)),
    }


def test_parse_av_header_golden():
    for fmt, (raw, want) in _golden_av().items():
        got = MM.parse_av_header(raw)
        assert got is not None and got["format"] == fmt, fmt
        for k, v in want.items():
            assert got[k] == v, (fmt, k, got)
    assert MM.parse_av_header(b"") is None
    assert MM.parse_av_header(b"not media") is None
    # image bytes are not an AV container
    assert MM.parse_av_header(b"\x89PNG\r\n\x1a\n" + bytes(16)) is None
    # truncated-but-recognized containers degrade to None fields, no raise
    assert MM.parse_av_header(b"RIFF\x00\x00\x00\x00WAVE")["sample_rate"] is None
    assert MM.parse_av_header(
        (20).to_bytes(4, "big") + b"ftypisom" + bytes(8))["duration_ms"] is None


def test_parse_av_header_property():
    """Property: spec-built WAV and MP4 containers with randomized
    parameters round-trip exactly through parse_av_header (including the
    64-bit-largesize and version-1 mvhd variants), and random junk after
    a chunk/box never derails the walk."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(sr=st.integers(1, 1 << 18), ch=st.integers(1, 8),
           bits=st.sampled_from([8, 16, 24, 32]),
           secs=st.integers(0, 400), junk=st.binary(max_size=32))
    def wav_case(sr, ch, bits, secs, junk):
        brate = sr * ch * bits // 8
        dsize = brate * secs
        fmt_c = (b"fmt " + (16).to_bytes(4, "little")
                 + (1).to_bytes(2, "little") + ch.to_bytes(2, "little")
                 + sr.to_bytes(4, "little") + brate.to_bytes(4, "little")
                 + (ch * bits // 8).to_bytes(2, "little")
                 + bits.to_bytes(2, "little"))
        # unknown chunk between fmt and data must be skipped, odd sizes padded
        unk = b"LIST" + len(junk).to_bytes(4, "little") + junk \
            + (b"\x00" if len(junk) % 2 else b"")
        body = b"WAVE" + fmt_c + unk + b"data" + dsize.to_bytes(4, "little")
        raw = b"RIFF" + len(body).to_bytes(4, "little") + body
        got = MM.parse_av_header(raw)
        assert (got["format"], got["sample_rate"], got["channels"],
                got["bits"]) == ("wav", sr, ch, bits)
        assert got["duration_ms"] == (dsize * 1000 // brate if brate else None)

    @settings(max_examples=200, deadline=None)
    @given(ts=st.integers(1, 1 << 30), dur=st.integers(0, 1 << 40),
           w=st.integers(1, 65535), h=st.integers(1, 65535),
           v1=st.booleans(), large=st.booleans())
    def mp4_case(ts, dur, w, h, v1, large):
        if v1:
            mv_body = (b"\x01" + bytes(3) + bytes(16) + ts.to_bytes(4, "big")
                       + dur.to_bytes(8, "big") + bytes(80))
        else:
            dur = dur & 0xFFFFFFFF
            mv_body = (bytes(4) + bytes(8) + ts.to_bytes(4, "big")
                       + dur.to_bytes(4, "big") + bytes(80))
        mvhd = (8 + len(mv_body)).to_bytes(4, "big") + b"mvhd" + mv_body
        tk_body = bytes(76) + (w << 16).to_bytes(4, "big") \
            + (h << 16).to_bytes(4, "big")
        tkhd = (8 + len(tk_body)).to_bytes(4, "big") + b"tkhd" + tk_body
        trak = (8 + len(tkhd)).to_bytes(4, "big") + b"trak" + tkhd
        mb = mvhd + trak
        if large:  # 64-bit largesize header on the moov box
            moov = ((1).to_bytes(4, "big") + b"moov"
                    + (16 + len(mb)).to_bytes(8, "big") + mb)
        else:
            moov = (8 + len(mb)).to_bytes(4, "big") + b"moov" + mb
        ftyp = (16).to_bytes(4, "big") + b"ftypisom" + bytes(4)
        got = MM.parse_av_header(ftyp + moov)
        assert got["format"] == "mp4"
        assert got["duration_ms"] == dur * 1000 // ts
        assert (got["width"], got["height"]) == (w, h)

    wav_case()
    mp4_case()


def test_decode_media_av_headers(spark):
    golden = _golden_av()
    rows = [(i, raw, "application/octet-stream")
            for i, (fmt, (raw, _)) in enumerate(golden.items())]
    df = spark.createDataFrame(rows, "media_id long, content binary, mime string")
    got = {r["format"]: r for r in MM.decode_media(df).collect()}
    for fmt, (raw, want) in golden.items():
        r = got[fmt]
        assert (r["sample_rate"], r["channels"], r["duration_ms"],
                r["width"], r["height"]) == \
            (want["sample_rate"], want["channels"], want["duration_ms"],
             want["width"], want["height"]), fmt
        assert r["size_bytes"] == len(raw)


def test_decode_media_real_headers(spark):
    golden = _golden_images()
    rows = [(i, raw, f"image/{fmt}")
            for i, (fmt, (raw, w, h)) in enumerate(golden.items())]
    df = spark.createDataFrame(rows, "media_id long, content binary, mime string")
    got = {r["format"]: r for r in MM.decode_media(df).collect()}
    for fmt, (raw, w, h) in golden.items():
        assert (got[fmt]["width"], got[fmt]["height"]) == (w, h), fmt
        import hashlib
        assert got[fmt]["checksum"] == hashlib.md5(raw).hexdigest()


def test_image_dims_native_matches_python(spark):
    # the JVM Column-expression path must agree with the Python parser on
    # the fixed-offset formats (and be null on JPEG/unknown)
    golden = _golden_images()
    rows = [(i, raw) for i, (fmt, (raw, _, _)) in enumerate(golden.items())]
    rows.append((99, b"junk"))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = df.select("media_id", "content",
                    MM.image_dims_native("content").alias("d")).collect()
    for r in out:
        w, h, fmt = MM.parse_image_header(bytes(r["content"]))
        if fmt in ("png", "gif", "bmp"):
            assert (r["d"]["width"], r["d"]["height"], r["d"]["format"]) == \
                (w, h, fmt)
        else:
            assert r["d"]["width"] is None and r["d"]["format"] is None


def test_windowed_agg_batch_vs_oracle(tables, duck):
    ev = tables["events"].df
    out = SA.windowed_agg(ev, "ts", {"n": "count", "total": "sum"},
                          by="event_type", window="1 day", select="value")
    out = out.select("window_start", "event_type", "n",
                     F.round("total", 6).alias("total"))
    check_vs_oracle(out, duck, """
        SELECT date_trunc('day', ts) AS window_start, event_type,
               count(value) AS n, round(sum(value), 6) AS total
        FROM events GROUP BY 1, 2""")


def test_streaming_smoke(spark, tmp_path):
    # finite parquet stream → windowed agg → memory sink
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=100, freq="min"),
        "k": ["a", "b"] * 50, "v": [float(i) for i in range(100)]})
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = SA.stream_from_parquet(spark, src)
    agg = SA.windowed_agg(stream, "ts", {"n": "count"}, by="k",
                          window="30 minutes", watermark="1 hour", select="v")
    res = SA.run_to_memory(agg, "smoke_out").toPandas()
    assert res["n"].sum() == 100


def test_ml_schema_featuremat(tables):
    from juliadb_jl_spark.ml import featuremat, ml_schema
    cust = jdb.table(tables["customer"].df)
    sch = ml_schema(cust, hints={"c_custkey": "ignore", "c_name": "ignore"})
    assert sch["c_acctbal"]["kind"] == "continuous"
    assert sch["c_mktsegment"]["kind"] == "categorical"
    out = featuremat(jdb.select(cust, ("c_acctbal", "c_nationkey", "c_mktsegment")))
    row = out.head(1)[0]
    # 2 continuous + 25-ish nation one-hot + segment one-hot
    assert row["features"].size >= 7


def test_featuremat_maybe_golden(spark):
    """Reference test/test_ml.jl:21-22: featuremat([1,2,missing]) ≈
    [-Δ Δ 0] standardized over the OBSERVED values (std([1,2])) plus a
    null-indicator feature [0 0 1] — NOT a scaler fit on imputed data."""
    import math

    from juliadb_jl_spark.ml import featuremat

    t = jdb.table(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, None)], ["id", "x"]),
        pkey=("id",))
    out = featuremat(jdb.select(t, ("x",)))
    feats = {i: row["features"].toArray().tolist()
             for i, row in enumerate(out.collect())}
    delta = 0.5 / (math.sqrt(0.5))  # 0.5/std([1,2])
    assert feats[0] == pytest.approx([-delta, 0.0])
    assert feats[1] == pytest.approx([delta, 0.0])
    assert feats[2] == pytest.approx([0.0, 1.0])


def test_multimodal_resize_and_frames(tables):
    from juliadb_jl_spark.functions import multimodal as MM
    d = tables["documents"].df.limit(20)
    media = MM.attach_binary(d, "text", "doc_id")
    rs = MM.resize_images(media, 32, 32, fake=True).toPandas()
    assert len(rs) == 20
    assert all(len(bytes(b)) == 16 + 8 for b in rs["content"])  # md5+dims
    fr = MM.sample_frames(media, every_n=5, max_frames=4, fake=True).toPandas()
    assert set(fr.columns) == {"media_id", "frame_idx", "frame"}
    per = fr.groupby("media_id")["frame_idx"].agg(["count", "max"])
    assert (per["count"] <= 4).all()
    assert (fr["frame_idx"] % 5 == 0).all()


_HAS_PIL = importlib.util.find_spec("PIL") is not None


@pytest.mark.skipif(_HAS_PIL, reason="Pillow installed — real path active")
def test_resize_images_raises_without_pillow(tables):
    """Without the [media] extra, the real resize path fails with the
    documented error (fake=True remains the plumbing-test path)."""
    from juliadb_jl_spark.functions import multimodal as MM
    d = tables["documents"].df.limit(5)
    media = MM.attach_binary(d, "text", "doc_id")
    with pytest.raises(Exception, match="PIL|libav"):
        MM.resize_images(media, 8, 8).toPandas()


@pytest.mark.skipif(not _HAS_PIL,
                    reason="Pillow not installed (pip install .[media])")
def test_resize_images_real_with_pillow(spark):
    """With the [media] extra the pixel path is REAL: a generated PNG
    resizes to the target dims and decode_media reads them back."""
    import io

    from PIL import Image

    from juliadb_jl_spark.functions import multimodal as MM
    bufs = []
    for i in range(4):
        buf = io.BytesIO()
        Image.new("RGB", (31 + i, 17 + i), (i * 40, 10, 200)).save(buf, "PNG")
        bufs.append((i, bytearray(buf.getvalue())))
    df = spark.createDataFrame(bufs, "media_id long, content binary") \
        .withColumn("mime", F.lit("image/png"))
    out = MM.resize_images(df, 8, 8).toPandas()
    assert len(out) == 4
    for b in out["content"]:
        with Image.open(io.BytesIO(bytes(b))) as im:
            assert im.size == (8, 8)
    meta = MM.decode_media(df).toPandas().set_index("media_id")
    assert (meta["width"] == [31, 32, 33, 34]).all()
    assert (meta["format"] == "png").all()


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------

def _uf_min_components(edges):
    """Brute-force oracle: union-find, then min node id per component."""
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    from collections import defaultdict
    groups = defaultdict(list)
    for n in nodes:
        groups[find(n)].append(n)
    return {n: min(groups[find(n)]) for n in nodes}


@pytest.mark.parametrize("edges", [
    [(i, i + 1) for i in range(40)],                   # 40-node chain
    [(5, 1), (1, 3), (3, 5), (10, 12), (12, 14),       # cliques + bridge
     (14, 10), (3, 10), (100, 200)],
    [(1, 2), (2, 1), (1, 2), (7, 7), (3, 4)],          # dups + self-loop
])
def test_connected_components_vs_union_find(spark, edges):
    from juliadb_jl_spark.functions.dedup import connected_components
    want = _uf_min_components([(u, v) for u, v in edges if u != v])
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_random(spark):
    import random
    from juliadb_jl_spark.functions.dedup import connected_components
    rnd = random.Random(7)
    edges = [(rnd.randrange(80), rnd.randrange(80)) for _ in range(70)]
    edges = [(u, v) for u, v in edges if u != v]
    want = _uf_min_components(edges)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_nonconvergence_releases_persists(spark):
    """A chain needs several rounds; max_iter=1 must raise — and the
    failure path must release the member set and the round's edges."""
    from juliadb_jl_spark.functions.dedup import connected_components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)
    assert _persisted_rdd_ids(spark) - before == set()


def test_dedup_by_clusters_transitive(spark):
    """A~B and B~C (A,C never paired) must still collapse to one doc."""
    from juliadb_jl_spark.functions.dedup import dedup_by_clusters
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"]
                  for r in dedup_by_clusters(docs, pairs, "doc_id").collect())
    assert kept == [0, 3, 4]  # cluster {0,1,2}->0, {4,5}->4, 3 unpaired


# ---------------------------------------------------------------------------
# BM25 full-text search
# ---------------------------------------------------------------------------

def _bm25_bruteforce(docs, terms, k1=1.2, b=0.75):
    """Pure-python BM25 (Lucene idf) over [(id, text)] -> {id: score}."""
    import math
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out[i] = s
    return out


def test_bm25_scores_vs_bruteforce(spark):
    from juliadb_jl_spark.functions.search import bm25_scores
    docs = [(0, "spark shuffle join join join"),
            (1, "join once in a long document with many many other words"),
            (2, "no matching terms at all"),
            (3, "shuffle shuffle"),
            (4, "spark")]
    want = _bm25_bruteforce(docs, ["spark", "join", "shuffle"])
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["score"]
           for r in bm25_scores(df, "spark join shuffle", "doc_id").collect()}
    assert set(got) == set(want)   # only matching docs emitted
    for i in want:
        assert got[i] == pytest.approx(want[i], rel=1e-9), i


def test_bm25_topk_order_and_cut(spark):
    from juliadb_jl_spark.functions.search import bm25_topk
    docs = [(i, "target " * (i + 1) + "filler " * (20 - i))
            for i in range(10)]
    df = spark.createDataFrame([(i, t.strip()) for i, t in docs],
                               ["doc_id", "text"])
    got = bm25_topk(df, "target", "doc_id", k=3).collect()
    assert len(got) == 3
    want = _bm25_bruteforce([(i, t.strip()) for i, t in docs], ["target"])
    order = sorted(want, key=lambda i: (-want[i], i))[:3]
    assert [r["doc_id"] for r in got] == order
    assert got[0]["score"] >= got[1]["score"] >= got[2]["score"]


def test_term_stats_full_index(spark):
    from juliadb_jl_spark.functions.search import term_stats
    df = spark.createDataFrame([(1, "a b a"), (2, "b")], ["id", "text"])
    rows = {(r["id"], r["term"]): (r["tf"], r["dl"])
            for r in term_stats(df, "id").collect()}
    assert rows == {(1, "a"): (2, 3), (1, "b"): (1, 3), (2, "b"): (1, 1)}


def test_bpe_top_pairs_golden(spark):
    from juliadb_jl_spark.functions import text as TX
    # classic BPE toy corpus: low x5, lower x2, newest x6, widest x3
    docs = [(0, " ".join(["low"] * 5 + ["lower"] * 2)),
            (1, " ".join(["newest"] * 6 + ["widest"] * 3)),
            (2, "I")]  # 1-char word contributes no pairs
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    wf = {r["word"]: r["freq"] for r in TX.word_freqs(df).collect()}
    assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3, "i": 1}
    top = TX.bpe_top_pairs(df, top_n=3).collect()
    got = [(r["pair"], r["pair_count"]) for r in top]
    # es/st appear in newest(6)+widest(3)=9 — the canonical first merges
    assert got[0] == ("e s", 9) and got[1] == ("s t", 9)
    assert got[0][0] < got[1][0]  # deterministic tie-break by pair
    assert got[2] == ("w e", 8)   # newest(6)+lower(2)


def test_semantic_dedup_exact_and_lsh(spark):
    import math
    from juliadb_jl_spark.functions import dedup as DD
    # three near-identical groups on the unit circle + one loner;
    # within-group cosine ~1, across-group well below threshold
    def vec(theta):
        return [math.cos(theta), math.sin(theta)]
    rows = [(0, vec(0.00)), (1, vec(0.01)), (2, vec(0.02)),   # cluster A
            (10, vec(1.50)), (11, vec(1.51)),                 # cluster B
            (20, vec(3.00))]                                  # loner
    df = spark.createDataFrame(rows, ["vec_id", "emb"])
    kept = sorted(r["vec_id"] for r in
                  DD.semantic_dedup(df, "vec_id", "emb", threshold=0.99,
                                    exact=True).collect())
    assert kept == [0, 10, 20]  # smallest id per cluster + the loner
    # LSH-blocked path: 2-D vectors, enough planes that each tight
    # cluster lands in one bucket with this seed
    kept_lsh = sorted(r["vec_id"] for r in
                      DD.semantic_dedup(df, "vec_id", "emb", threshold=0.99,
                                        n_planes=4).collect())
    assert kept_lsh == [0, 10, 20]


def test_nearest_centroid_classifier(spark):
    import math
    from juliadb_jl_spark.ml import (centroid_scores, class_centroids,
                                     nearest_centroid_classify)
    # two well-separated classes around orthogonal directions
    def vec(theta):
        return [math.cos(theta), math.sin(theta)]
    rows = [(0, vec(0.00), "a"), (1, vec(0.10), "a"), (2, vec(-0.10), "a"),
            (3, vec(1.57), "b"), (4, vec(1.47), "b"), (5, vec(1.67), "b")]
    df = spark.createDataFrame(rows, ["vec_id", "emb", "label"])
    cents = class_centroids(df, "emb", "label")
    assert set(cents) == {"a", "b"} and len(cents["a"]) == 2
    # centroid of class a ≈ direction theta=0
    na = math.hypot(*cents["a"])
    assert cents["a"][0] / na == pytest.approx(1.0, abs=0.01)
    # training vectors classify back to their own class
    pred = nearest_centroid_classify(df, "emb", cents).collect()
    assert all(r["pred"] == r["label"] for r in pred)
    # score matrix: one row per (vec, class), self-class scores higher
    sc = centroid_scores(df, "emb", cents).toPandas()
    assert len(sc) == 12
    wide = sc.pivot(index="vec_id", columns="class_label", values="cosine")
    assert (wide.loc[0:2, "a"] > wide.loc[0:2, "b"]).all()
    assert (wide.loc[3:5, "b"] > wide.loc[3:5, "a"]).all()


def test_centroid_scores_plan_is_shuffle_free(spark):
    from juliadb_jl_spark.ml import centroid_scores
    df = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "emb"])
    plan = centroid_scores(df, "emb", {0: [1.0, 0.0], 1: [0.0, 1.0]}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_collocations_golden(spark):
    import math
    from juliadb_jl_spark.functions import text as TX
    # "new york" always adjacent; "big apple" too; "the" is everywhere
    docs = [(0, "new york is the big apple"),
            (1, "i love new york and the big apple"),
            (2, "the apple was big in new york")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r["w1"], r["w2"]): r for r in
           TX.collocations(df, min_count=2).collect()}
    assert ("new", "york") in out and out[("new", "york")]["pair_count"] == 3
    # hand-computed PMI: 21 tokens, 18 bigrams; c(new)=c(york)=3
    expect = math.log((3 / 18) / ((3 / 21) * (3 / 21)))
    assert out[("new", "york")]["pmi"] == pytest.approx(expect, rel=1e-9)
    # frequent-but-independent pair scores lower than the fixed phrase
    if ("the", "big") in out:
        assert out[("the", "big")]["pmi"] < out[("new", "york")]["pmi"]


def test_substring_dedup_golden(spark):
    from juliadb_jl_spark.functions import dedup as DD
    # docs 0 and 1 share the verbatim run "a b c d e" (5 tokens);
    # doc 2 shares "c d e f g" with doc 1's tail; doc 3 is clean
    rows = [(0, "x1 x2 a b c d e y1 y2"),
            (1, "z1 a b c d e f g z2"),
            (2, "c d e f g w1 w2 w3"),
            (3, "u1 u2 u3 u4 u5 u6 u7")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in
             DD.duplicate_spans(df, "doc_id", k=3).collect()}
    # doc 0 keeps everything (lowest id for its shared windows)
    assert 0 not in spans and 3 not in spans
    # doc 1: windows of "a b c d e" (pos 2..4) -> merged span [2, 7);
    # "d e f"/"e f g" keep in doc1 (it is the lowest id for those)
    assert spans[1] == (2, 7)
    # doc 2: all of "c d e f g" duplicated -> [1, 6)
    assert spans[2] == (1, 6)
    out = {r["doc_id"]: r["text"] for r in
           DD.dedup_substrings(df, "doc_id", k=3).collect()}
    assert out[0] == "x1 x2 a b c d e y1 y2"
    assert out[1] == "z1 f g z2"
    assert out[2] == "w1 w2 w3"
    assert out[3] == "u1 u2 u3 u4 u5 u6 u7"


def test_bigram_perplexity_golden(spark):
    import math
    from juliadb_jl_spark.functions import text as TX
    docs = [(0, "a b a b"), (1, "a b"), (2, "z")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    lm = TX.bigram_lm(df)
    uni, bi, V = lm
    assert V == 3
    out = {r["doc_id"]: r for r in
           TX.perplexity_scores(df, "doc_id", lm, alpha=0.5).collect()}
    # counts: c(a)=3, c(b)=3, c(z)=1; c(ab)=3, c(ba)=1
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (3 + 0.5 * 3)
    exp0 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logp"] == pytest.approx(exp0, rel=1e-12)
    assert out[0]["ppl"] == pytest.approx(math.exp(-exp0), rel=1e-12)
    # doc 1 is pure high-probability text -> lower perplexity than doc 0
    assert out[1]["ppl"] < out[0]["ppl"]
    # single-token doc: no bigrams, NULL scores
    assert out[2]["n_bigrams"] == 0 and out[2]["ppl"] is None


def test_substring_dedup_within_doc(spark):
    from juliadb_jl_spark.functions import dedup as DD
    # doc 0 repeats "p q r" internally; doc 1 copies it too
    rows = [(0, "p q r x1 x2 p q r y1"),
            (1, "z1 p q r z2")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cross-doc only: doc 0's self-repetition survives
    cross = {r["doc_id"]: r["text"] for r in
             DD.dedup_substrings(df, "doc_id", k=3).collect()}
    assert cross[0] == "p q r x1 x2 p q r y1"
    assert cross[1] == "z1 z2"
    # within_doc: the second in-doc occurrence is cut as well
    within = {r["doc_id"]: r["text"] for r in
              DD.dedup_substrings(df, "doc_id", k=3,
                                  within_doc=True).collect()}
    assert within[0] == "p q r x1 x2 y1"
    assert within[1] == "z1 z2"


def test_substring_dedup_recall_bound(spark):
    """The documented recall bound of the k-window fingerprint approach
    (SCALING.md): a cross-document verbatim span of length >= k tokens is
    ALWAYS fully cut (recall 1.0 at and above k — no near-threshold decay),
    and a span shorter than k is NEVER cut (recall 0 below k).  Token-
    weighted recall on this mixed-span corpus is asserted to match the
    closed-form number cited in SCALING.md."""
    import random

    from juliadb_jl_spark.functions import dedup as DDk
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]

    def rand_tokens(n):
        return [rng.choice(vocab) for _ in range(n)]

    k = 30
    lengths = (5, 10, 29, 30, 31, 60, 100)
    snippets = {L: rand_tokens(L) for L in lengths}
    base = rand_tokens(200) + [t for L in lengths for t in snippets[L]] \
        + rand_tokens(50)
    docs = [(0, " ".join(base))]
    spans = {}
    for did, L in enumerate(lengths, start=1):
        pre, post = rand_tokens(40), rand_tokens(40)
        docs.append((did, " ".join(pre + snippets[L] + post)))
        spans[did] = L
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"].split() for r in
           DDk.dedup_substrings(df, "doc_id", k=k).collect()}
    assert len(out[0]) == len(base)  # keeper (lowest id) never cut
    cut_tokens = 0
    for did, L in spans.items():
        if L >= k:
            assert len(out[did]) == 80, (did, L, len(out[did]))
            cut_tokens += L
        else:
            assert len(out[did]) == 80 + L, (did, L, len(out[did]))
    recall = cut_tokens / sum(lengths)
    assert abs(recall - (30 + 31 + 60 + 100) / sum(lengths)) < 1e-9
    assert abs(recall - 0.8340) < 5e-4  # the figure cited in SCALING.md


def test_vocab_encode_roundtrip(spark):
    from juliadb_jl_spark.functions import text as TX
    docs = [(0, "b a b c"), (1, "a b NEW"), (2, "")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # freqs: b=3, a=2, c=1, new=1 -> ids: <unk>=0, b=1, a=2, c=3, new=4
    vocab = {r["word"]: r["token_id"]
             for r in TX.build_vocab(df).collect()}
    assert vocab == {"<unk>": 0, "b": 1, "a": 2, "c": 3, "new": 4}
    # encode against a vocab built WITHOUT doc 1 -> "new" becomes <unk>
    v2 = TX.build_vocab(df.filter(F.col("doc_id") != 1))
    enc = {r["doc_id"]: r["token_ids"] for r in
           TX.encode_tokens(df, "doc_id", v2).collect()}
    # freqs without doc1: b=2,a=1,c=1 -> b=1, a=2, c=3
    assert enc[0] == [1, 2, 1, 3]
    assert enc[1] == [2, 1, 0]   # "new" -> <unk>=0
    assert enc[2] == []


def test_build_vocab_multi_partition_order(spark, tables):
    # ADVICE r2 (high): with AQE partition-coalescing off the vocab table
    # keeps >1 shuffle partition, and ids must STILL follow
    # (freq desc, word asc) — the old hash-partitioned numbering only
    # looked right because AQE collapsed tiny test vocabs to 1 partition.
    from juliadb_jl_spark.functions import text as TX
    docs = tables["documents"].df
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        got = TX.build_vocab(docs, "text", min_freq=2).toPandas()
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert got["word"].is_unique
    ref = got[got["token_id"] > 0].copy()
    freqs = {r["word"]: r["freq"]
             for r in TX.word_freqs(docs, "text").collect()}
    ranked = sorted(ref["word"], key=lambda w: (-freqs[w], w))
    by_id = list(ref.sort_values("token_id")["word"])
    assert by_id == ranked


def test_build_vocab_special_in_corpus(spark):
    # a corpus containing the literal "<unk>" must not yield two vocab rows
    from juliadb_jl_spark.functions import text as TX
    df = spark.createDataFrame([(0, "a <unk> a <unk> <unk> b")],
                               ["doc_id", "text"])
    rows = TX.build_vocab(df).collect()
    unk = [r for r in rows if r["word"] == "<unk>"]
    assert len(unk) == 1 and unk[0]["token_id"] == 0
    ids = {r["word"]: r["token_id"] for r in rows}
    assert ids == {"<unk>": 0, "a": 1, "b": 2}
    enc = TX.encode_tokens(df, "doc_id", TX.build_vocab(df)).collect()
    assert enc[0]["token_ids"] == [1, 0, 1, 0, 0, 2]


def test_partitionplot_render_import_gated(tables):
    # mirror of the PIL gating pattern: clean NotImplementedError when
    # matplotlib is absent, real render when it is importable
    from juliadb_jl_spark.functions.stats import (partitionplot,
                                                  partitionplot_render)
    sec = partitionplot(tables["orders"].df, "o_orderkey", "o_totalprice",
                        stat="mean", nparts=10)
    try:
        import matplotlib  # noqa: F401
        import io
        buf = io.BytesIO()
        partitionplot_render(sec, "o_orderkey", path_or_buf=buf)
        assert buf.getvalue()[:8] == b"\x89PNG\r\n\x1a\n"
    except ImportError:
        import pytest as _pt
        with _pt.raises(NotImplementedError, match="matplotlib"):
            partitionplot_render(sec, "o_orderkey")


def test_null_text_is_empty_document(spark):
    from juliadb_jl_spark.functions import curation as CU
    from juliadb_jl_spark.functions import text as TX
    df = spark.createDataFrame([(0, None), (1, "a b c")],
                               "doc_id long, text string")
    r = {row["doc_id"]: row for row in df.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n"),
        F.size(CU.lines_(F.col("text"))).alias("nl"),
        TX.quality_score(F.col("text")).alias("q"),
        F.size(TX.shingles(F.col("text"), 2)).alias("sh")).collect()}
    assert r[0]["n"] == 0 and r[0]["nl"] == 0 and r[0]["sh"] == 0
    assert r[0]["q"] == pytest.approx(0.5 * 0.2 + 0.2)  # empty-text value
    assert r[1]["n"] == 3
    # curation/pipeline entry points don't crash on NULL text
    assert CU.c4_line_clean(df).count() == 2
    assert CU.repetition_stats(df).count() == 2
    assert TX.bpe_top_pairs(df).count() >= 0


def test_dedup_substrings_multi_extends_recall(spark):
    """A 30-token duplicated span survives a k=50 pass but not the
    k=50→k=20 ladder; unique text is untouched by both."""
    from juliadb_jl_spark.functions import dedup as DD
    dup30 = " ".join(f"d{i}" for i in range(30))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    rows = [(1, f"{uniq('a')} {dup30} {uniq('b')}"),
            (2, f"{uniq('c')} {dup30} {uniq('e')}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    single = {r["doc_id"]: r["text"] for r in
              DD.dedup_substrings(df, "doc_id", k=50).collect()}
    multi = {r["doc_id"]: r["text"] for r in
             DD.dedup_substrings_multi(df, "doc_id", ks=(50, 20)).collect()}
    assert "d5" in single[2]          # 30 < 50: single pass misses it
    assert "d5" not in multi[2]       # ladder cuts it from the loser
    assert "d5" in multi[1]           # lowest id keeps the occurrence
    for tag in ("c", "e"):            # unique text survives both passes
        assert f"{tag}3" in multi[2]
    import pytest as _pt
    with _pt.raises(ValueError):
        DD.dedup_substrings_multi(df, "doc_id", ks=(20, 50))


# ---------------------------------------------------------------------------
# frequent_phrases (hashed-key n-gram mining)
# ---------------------------------------------------------------------------


def test_frequent_phrases_golden(spark):
    from juliadb_jl_spark.functions.text import frequent_phrases
    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat sat"), (2, "the cat ran"),
         (3, "a dog sat")], ["doc_id", "text"])
    out = {r["phrase"]: r["freq"]
           for r in frequent_phrases(docs, n=3, min_count=2).collect()}
    assert out == {"the cat sat": 2}
    out2 = {r["phrase"]: r["freq"]
            for r in frequent_phrases(docs, n=2, min_count=2).collect()}
    assert out2 == {"the cat": 3, "cat sat": 2}


def test_frequent_phrases_full_report_matches_brute_force(spark):
    """Full report (k=None) over real documents plus whitespace,
    unicode and empty edge rows ≡ a driver-side Counter of every word
    n-gram (leading tab → empty token dropped), for n = 1, 2, 3."""
    from juliadb_jl_spark.functions.text import frequent_phrases
    from tests.test_property import frequent_report, phrase_counts
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    edge = spark.createDataFrame(
        [(90001, "\tthe cat sat on the mat"),
         (90002, "  b  b   b "), (90003, "héllo wörld héllo wörld x"),
         (90004, ""), (90005, None)], "doc_id long, text string")
    texts = [r["text"] for r in d.collect()]
    for data, txt, cases in ((d, texts, ((3, 4), (2, 2), (1, 3))),
                             (edge, [r["text"] for r in edge.collect()],
                              ((3, 2), (2, 2), (1, 2)))):
        for nn, mc in cases:
            want = frequent_report(phrase_counts(txt, nn), mc)
            got = sorted(((r["phrase"], r["freq"]) for r in
                          frequent_phrases(data, n=nn, min_count=mc,
                                           k=None).collect()),
                         key=lambda pc: (-pc[1], pc[0]))
            assert got == want and (len(got) > 0 or data is edge), nn


def test_arrow_shingles_bit_equal(spark, tables):
    """arrow_shingles must be BIT-compatible with the HOF shingles()
    (incl. the empty-token case: concat_ws keeps empty strings, and so
    must the byte-slice join) — minhash/jaccard/novelty/contamination
    all key on these gram strings."""
    from juliadb_jl_spark.functions.text import arrow_shingles, shingles
    docs = tables["documents"].df.select("doc_id", "text").limit(150)
    edge = spark.createDataFrame(
        [(80001, "\tleading tab here ok"), (80002, "  x  y  z  "),
         (80003, "héllo wörld ünïcode文字 one two"), (80004, ""),
         (80005, None), (80006, "two only")],
        "doc_id long, text string")
    docs = docs.unionByName(edge)
    for kk in (2, 5):
        both = docs.select(
            "doc_id",
            shingles(F.col("text"), kk).alias("a"),
            arrow_shingles(F.col("text"), kk).alias("b")).collect()
        for r in both:
            assert list(r["a"]) == list(r["b"]), r["doc_id"]


def test_frequent_phrases_topk_tiebreak(spark):
    from juliadb_jl_spark.functions.text import frequent_phrases
    docs = spark.createDataFrame(
        [(0, "b b"), (1, "b b"), (2, "a a"), (3, "a a")],
        ["doc_id", "text"])
    rows = frequent_phrases(docs, n=2, min_count=2, k=1).collect()
    # equal freq -> lexicographically first phrase wins deterministically
    assert rows[0]["phrase"] == "a a" and rows[0]["freq"] == 2


def test_frequent_phrases_lowercase_and_short_docs(spark):
    from juliadb_jl_spark.functions.text import frequent_phrases
    docs = spark.createDataFrame(
        [(0, "The CAT sat"), (1, "the cat sat"), (2, "xy")],
        ["doc_id", "text"])
    out = {r["phrase"]: r["freq"] for r in
           frequent_phrases(docs, n=3, min_count=2).collect()}
    assert out == {"the cat sat": 2}
    case = {r["phrase"]: r["freq"] for r in
            frequent_phrases(docs, n=3, min_count=2,
                             lowercase=False).collect()}
    assert case == {}


def test_frequent_phrases_arg_validation(spark):
    import pytest as _pytest
    from juliadb_jl_spark.functions.text import frequent_phrases
    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        frequent_phrases(docs, n=0)
    with _pytest.raises(ValueError):
        frequent_phrases(docs, min_count=0)


def test_decode_tokens_roundtrip(spark):
    from juliadb_jl_spark.functions.text import (build_vocab,
                                                 decode_tokens,
                                                 encode_tokens)
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog"), (2, "")],
        ["doc_id", "text"])
    vocab = build_vocab(docs, min_freq=1)
    enc = encode_tokens(docs, "doc_id", vocab)
    dec = {r["doc_id"]: r["text_decoded"] for r in
           decode_tokens(enc, "doc_id", vocab).collect()}
    assert dec[0] == "the cat sat on the mat"
    assert dec[1] == "the dog"
    assert dec[2] == ""


def test_decode_tokens_unknown_id_renders_unk(spark):
    from juliadb_jl_spark.functions.text import decode_tokens
    vocab = spark.createDataFrame([(7, "hello")], ["token_id", "word"])
    enc = spark.createDataFrame([(0, [7, 999])],
                                "doc_id long, token_ids array<int>")
    out = decode_tokens(enc, "doc_id", vocab).collect()[0]
    assert out["text_decoded"] == "hello <unk>"


def test_decode_tokens_null_element_keeps_position(spark):
    """A NULL inside token_ids still occupies a position and must render
    as unk — dropping it would desynchronize the decoded text from the
    id-array length (ADVICE r6)."""
    from juliadb_jl_spark.functions.text import decode_tokens
    vocab = spark.createDataFrame([(7, "hello")], ["token_id", "word"])
    enc = spark.createDataFrame([(0, [7, None, 7])],
                                "doc_id long, token_ids array<int>")
    out = decode_tokens(enc, "doc_id", vocab).collect()[0]
    assert out["text_decoded"] == "hello <unk> hello"


def test_normalize_text_golden(spark):
    from juliadb_jl_spark.functions.text import normalize_text
    rows = [
        (0, "\u200bHello\u00ad  World\t\n x \ufeff"),
        (1, None),
        (2, "  MiXeD   Case  "),
        (3, "\u200c\u200d\x00\x1f\x7f"),  # only invisibles -> empty
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r["id"]: r["n"] for r in df.select(
        "id", normalize_text(F.col("t")).alias("n")).collect()}
    assert out[0] == "hello world x"
    assert out[1] == "" and out[3] == ""
    assert out[2] == "mixed case"
    # flags off
    keep = df.select("id", normalize_text(
        F.col("t"), casefold=False).alias("n")).collect()
    assert {r["id"]: r["n"] for r in keep}[2] == "MiXeD Case"


def test_frequent_phrases_partition_invariant(spark):
    from juliadb_jl_spark.functions.text import frequent_phrases
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {(r["phrase"], r["freq"]) for r in
         frequent_phrases(d, n=2, min_count=6).collect()}
    b = {(r["phrase"], r["freq"]) for r in
         frequent_phrases(d.repartition(7), n=2,
                          min_count=6).collect()}
    assert a == b and len(a) > 0


def test_dedup_substrings_fp_fmt_plumbed(spark):
    """ADVICE r8: the text-REWRITING paths default to collision-free
    md5 ("bin") and expose fp_fmt; on collision-free data the u64
    opt-in must rewrite identically (any difference is a build bug)."""
    shared = " ".join(f"s{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, f"alpha {shared} omega"),
         (2, f"head {shared} tail"),
         (3, "unrelated " + " ".join(f"u{i}" for i in range(25)))],
        ["doc_id", "text"])
    import inspect
    assert inspect.signature(
        DD.dedup_substrings).parameters["fp_fmt"].default == "bin"
    assert inspect.signature(
        DD.dedup_substrings_multi).parameters["fp_fmt"].default == "bin"
    want = {r["doc_id"]: r["text"] for r in
            DD.dedup_substrings(df, "doc_id", k=20).collect()}
    got = {r["doc_id"]: r["text"] for r in
           DD.dedup_substrings(df, "doc_id", k=20,
                               fp_fmt="u64").collect()}
    assert got == want
    assert shared in want[1] and shared not in want[2]  # keeper = min id
    m_want = {r["doc_id"]: r["text"] for r in DD.dedup_substrings_multi(
        df, "doc_id", ks=(25, 20)).collect()}
    m_got = {r["doc_id"]: r["text"] for r in DD.dedup_substrings_multi(
        df, "doc_id", ks=(25, 20), fp_fmt="u64").collect()}
    assert m_got == m_want
