"""Property-based differential tests: random small tables, engine result ≡
pandas oracle.  Complements the reference's fixed goldens (SURVEY §5 notes
the reference lacks randomized testing — added here as hardening).
"""

import pandas as pd
import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import juliadb_jl_spark as jdb
from juliadb_jl_spark.plans import selectors as S

KEYS = ["a", "b", "c"]


@st.composite
def frames(draw):
    n = draw(st.integers(2, 25))
    keys = draw(st.lists(st.sampled_from(KEYS), min_size=n, max_size=n))
    vals = draw(st.lists(st.integers(-50, 50), min_size=n, max_size=n))
    return pd.DataFrame({"k": keys, "v": [float(v) for v in vals]})


_settings = settings(max_examples=8, deadline=None,
                     suppress_health_check=list(HealthCheck))


@given(pdf=frames())
@_settings
def test_groupreduce_matches_pandas(spark, pdf):
    t = jdb.table(pdf, spark=spark)
    got = jdb.groupreduce({"s": S.pair("v", "sum"), "m": S.pair("v", "max")},
                          t, by="k").collect().sort_values("k", ignore_index=True)
    exp = (pdf.groupby("k").agg(s=("v", "sum"), m=("v", "max"))
           .reset_index().sort_values("k", ignore_index=True))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@given(l=frames(), r=frames())
@_settings
def test_join_matches_pandas(spark, l, r):
    rl = r.rename(columns={"v": "w"}).groupby("k", as_index=False).first()
    lt = jdb.table(l, spark=spark)
    rt = jdb.table(rl, spark=spark)
    got = jdb.join(lt, rt, how="left", lkey="k", rkey="k") \
        .collect().sort_values(["k", "v"], ignore_index=True)
    exp = l.merge(rl, on="k", how="left").sort_values(["k", "v"],
                                                      ignore_index=True)
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  exp[sorted(exp.columns)], check_dtype=False)


@given(pdf=frames(), rev=st.booleans())
@_settings
def test_sort_matches_pandas(spark, pdf, rev):
    t = jdb.table(pdf, spark=spark)
    got = jdb.sort(t, by=("v", "k"), rev=rev).collect()
    exp = pdf.sort_values(["v", "k"], ascending=not rev, ignore_index=True)
    pd.testing.assert_frame_equal(got[["v", "k"]], exp[["v", "k"]],
                                  check_dtype=False)


@given(pdf=frames())
@_settings
def test_stack_roundtrip(spark, pdf):
    pdf = pdf.reset_index().rename(columns={"index": "i"})
    pdf["v2"] = pdf["v"] * 2
    t = jdb.table(pdf[["i", "v", "v2"]], pkey="i", spark=spark)
    long = jdb.stack(t, ("v", "v2"))
    wide = jdb.unstack(long, values=["v", "v2"]).collect() \
        .sort_values("i", ignore_index=True)
    pd.testing.assert_frame_equal(
        wide[["i", "v", "v2"]],
        pdf[["i", "v", "v2"]].sort_values("i", ignore_index=True),
        check_dtype=False)


@st.composite
def asof_frames(draw):
    n = draw(st.integers(1, 15))
    m = draw(st.integers(1, 15))
    lk = draw(st.lists(st.sampled_from(["a", "b"]), min_size=n, max_size=n))
    lt = draw(st.lists(st.integers(0, 40), min_size=n, max_size=n))
    rk = draw(st.lists(st.sampled_from(["a", "b"]), min_size=m, max_size=m))
    rt = draw(st.lists(st.integers(0, 40), min_size=m, max_size=m))
    l = pd.DataFrame({"k": lk, "t": lt}).drop_duplicates(["k", "t"])
    r = pd.DataFrame({"k": rk, "t": rt}).drop_duplicates(["k", "t"])
    r["rv"] = r["t"] * 10.0
    return l, r


@given(data=asof_frames())
@_settings
def test_asofjoin_matches_pandas_merge_asof(spark, data):
    l, r = data
    lt = jdb.table(l, spark=spark)
    rt = jdb.table(r.rename(columns={"t": "t"}), spark=spark)
    got = jdb.asofjoin(lt, rt, by="k", on="t").collect() \
        .sort_values(["k", "t"], ignore_index=True)
    exp = pd.merge_asof(l.sort_values("t", kind="stable"),
                        r.sort_values("t", kind="stable"),
                        on="t", by="k", direction="backward") \
        .sort_values(["k", "t"], ignore_index=True)
    pd.testing.assert_frame_equal(got[["k", "t", "rv"]], exp[["k", "t", "rv"]],
                                  check_dtype=False)


@given(l=frames(), r=frames())
@_settings
def test_groupjoin_outer_matches_pandas(spark, l, r):
    # reference semantics: one row per key from EITHER side, |groups| =
    # |l_k| * |r_k| (0 when a side is absent)
    rl = r.rename(columns={"v": "w"})
    lt, rt = jdb.table(l, spark=spark), jdb.table(rl, spark=spark)
    g = jdb.groupjoin(lt, rt, how="outer", lkey="k", rkey="k").collect()
    got = {k: len(grp) for k, grp in zip(g["k"], g["groups"])}
    ln = l.groupby("k").size()
    rn = rl.groupby("k").size()
    exp = {k: int(ln.get(k, 0)) * int(rn.get(k, 0))
           for k in set(ln.index) | set(rn.index)}
    assert got == exp


@given(l=frames(), r=frames())
@_settings
def test_join_combine_matches_pandas(spark, l, r):
    # join(f): matched pairs combined, present side kept on outer
    la = l.groupby("k", as_index=False).agg(v=("v", "sum"))
    ra = r.groupby("k", as_index=False).agg(v=("v", "sum"))
    lt, rt = jdb.table(la, spark=spark), jdb.table(ra, spark=spark)
    got = jdb.join(lt, rt, how="outer", lkey="k", rkey="k", combine="+") \
        .collect().set_index("k")["v"].to_dict()
    lv, rv = la.set_index("k")["v"].to_dict(), ra.set_index("k")["v"].to_dict()
    exp = {k: lv.get(k, 0) + rv.get(k, 0) if (k in lv and k in rv)
           else lv.get(k, rv.get(k))
           for k in set(lv) | set(rv)}
    assert got == exp


@st.composite
def range_frames(draw):
    """Two keyed frames with integer 'times' clustered tightly so range
    windows and bucket boundaries are hit often."""
    def side():
        n = draw(st.integers(2, 20))
        return pd.DataFrame({
            "k": draw(st.lists(st.sampled_from(KEYS), min_size=n, max_size=n)),
            "t": draw(st.lists(st.integers(0, 30), min_size=n, max_size=n)),
            "i": range(n),
        })
    lower = draw(st.integers(-5, 5))
    width = draw(st.integers(0, 10))
    bucket = draw(st.sampled_from([None, 1, 3, 7]))
    return side(), side(), lower, lower + width, bucket


@given(data=range_frames())
@_settings
def test_range_join_matches_naive_cross(spark, data):
    """Bucketized range join ≡ naive cross-join + predicate, including
    exact boundary values and every bucket width (the q63 bug class)."""
    lp, rp, lower, upper, bucket = data
    lt = jdb.table(lp, spark=spark)
    rt = jdb.table(rp, spark=spark)
    got = jdb.range_join(lt, rt, on="k", l_col="t", r_col="t",
                         lower=lower, upper=upper, bucket=bucket) \
        .collect()
    naive = lp.merge(rp, on="k", suffixes=("", "_1"))
    naive = naive[(naive["t"] - naive["t_1"] >= lower)
                  & (naive["t"] - naive["t_1"] <= upper)]
    gkey = sorted(zip(got["k"], got["i"], got["i_1"]))
    nkey = sorted(zip(naive["k"], naive["i"], naive["i_1"]))
    assert gkey == nkey


@given(texts=st.lists(
    st.text(alphabet="ab \n.!x", min_size=0, max_size=40),
    min_size=1, max_size=8))
@_settings
def test_bpe_pairs_match_pure_python(spark, texts):
    """bpe_pair_counts over word_freqs ≡ a direct pure-Python count of
    adjacent char pairs weighted by word frequency."""
    from collections import Counter
    from juliadb_jl_spark.functions import text as TX
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["pair"]: r["pair_count"]
           for r in TX.bpe_pair_counts(TX.word_freqs(df)).collect()}
    want: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            for a, b in zip(w, w[1:]):
                want[f"{a} {b}"] += 1
    assert got == dict(want)


@given(texts=st.lists(
    st.text(alphabet="abc xyz.\n!?{J", min_size=0, max_size=60),
    min_size=1, max_size=8),
    min_words=st.integers(1, 4))
@_settings
def test_c4_line_clean_matches_pure_python(spark, texts, min_words):
    from juliadb_jl_spark.functions import curation as CU
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in CU.c4_line_clean(df, min_words=min_words).collect()}

    def keep(line):
        return (len(line.split()) >= min_words
                and len(line) > 0 and line.rstrip()[-1:] in ".!?\"'"
                and not any(p in line.lower()
                            for p in CU.C4_LINE_BLOCKLIST))

    for i, t in enumerate(texts):
        nonblank = [l for l in t.split("\n") if l]
        kept = [l for l in nonblank if keep(l)]
        assert out[i]["n_lines"] == len(nonblank), (i, t)
        assert out[i]["n_kept"] == len(kept), (i, t)
        assert out[i]["text_clean"] == "\n".join(kept), (i, t)


def _py_dedup_substrings(docs, k):
    """Pure-Python reference: min-(doc)-keeps rule over k-token windows,
    remove covered token positions from every other occurrence."""
    toks = {i: t.split() for i, t in docs}
    first = {}
    for i in sorted(toks):
        for p in range(len(toks[i]) - k + 1):
            fp = " ".join(toks[i][p:p + k])
            first.setdefault(fp, i)
    out = {}
    for i in sorted(toks):
        cut = set()
        for p in range(len(toks[i]) - k + 1):
            fp = " ".join(toks[i][p:p + k])
            if first[fp] != i:
                cut.update(range(p, p + k))
        if cut:
            out[i] = " ".join(t for j, t in enumerate(toks[i])
                              if j not in cut)
        else:
            out[i] = " ".join(toks[i]) if toks[i] else ""
    return out


@given(docs=st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=14)
    .map(lambda ws: " ".join(ws)),
    min_size=1, max_size=6),
    k=st.integers(2, 4))
@_settings
def test_substring_dedup_matches_pure_python(spark, docs, k):
    from juliadb_jl_spark.functions import dedup as DD
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in
           DD.dedup_substrings(df, "doc_id", k=k).collect()}
    want = _py_dedup_substrings(rows, k)
    for i, t in rows:
        # compare at token level: untouched docs keep original bytes,
        # touched docs are token-rejoined — token sequences must match
        # the reference either way
        assert got[i].split() == want[i].split(), (i, t, got[i], want[i])


@st.composite
def doc_corpora(draw):
    """(old_rows, new_rows): texts drawn from a small pool so exact
    duplicates arise across and within both sides; old ids < new ids
    (the append-ingest contract)."""
    pool = [f"text variant {i} with some shared words" for i in range(6)]
    n_old = draw(st.integers(1, 12))
    n_new = draw(st.integers(1, 12))
    old = [(i, draw(st.sampled_from(pool))) for i in range(n_old)]
    new = [(100 + i, draw(st.sampled_from(pool))) for i in range(n_new)]
    return old, new


@given(data=doc_corpora())
@_settings
def test_incremental_dedup_append_equivalence(spark, data):
    """PROPERTY: dedup_exact(old ∪ new) ≡ dedup_exact(old) ∪
    dedup_exact_against(new, dedup_index(old)) for ANY duplicate
    structure, as long as new ids sort after old ids."""
    from juliadb_jl_spark.functions import dedup as DD
    from juliadb_jl_spark.functions import incremental as INC
    old_rows, new_rows = data
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    full = sorted(r["doc_id"] for r in
                  DD.dedup_exact(old.unionByName(new), "doc_id").collect())
    idx = INC.dedup_index(old, "doc_id")
    inc = sorted(
        [r["doc_id"] for r in DD.dedup_exact(old, "doc_id").collect()]
        + [r["doc_id"] for r in
           INC.dedup_exact_against(new, idx, "doc_id").collect()])
    assert inc == full


@st.composite
def funnel_frames(draw):
    n = draw(st.integers(1, 30))
    return pd.DataFrame({
        "id": range(n),
        "x": draw(st.lists(st.one_of(st.none(), st.integers(-5, 5)),
                           min_size=n, max_size=n)),
        "t": draw(st.lists(st.integers(0, 9), min_size=n, max_size=n)),
    })


@given(pdf=funnel_frames())
@_settings
def test_curation_funnel_matches_pandas(spark, pdf):
    """Funnel counters ≡ a pandas recompute of the cumulative cascade
    (NULL predicate values drop) on random frames."""
    from pyspark.sql import functions as F

    from juliadb_jl_spark.functions.curation import curation_funnel
    df = spark.createDataFrame(pdf.astype({"x": "object"}))
    stages = [("pos", F.col("x") > 0), ("small", F.col("x") < 3)]
    got = {r["stage"]: r for r in
           curation_funnel(df, stages, token_col=F.col("t")).collect()}

    keep1 = pdf["x"].map(lambda v: v is not None and v > 0)
    keep2 = keep1 & pdf["x"].map(lambda v: v is not None and v < 3)
    assert got["ingest"]["docs_in"] == len(pdf)
    assert got["ingest"]["tokens_kept"] == int(pdf["t"].sum())
    assert got["pos"]["docs_kept"] == int(keep1.sum())
    assert got["pos"]["tokens_kept"] == int(pdf.loc[keep1, "t"].sum())
    assert got["small"]["docs_in"] == int(keep1.sum())
    assert got["small"]["docs_kept"] == int(keep2.sum())
    assert got["small"]["tokens_kept"] == int(pdf.loc[keep2, "t"].sum())


@st.composite
def snapshot_pairs(draw):
    ids = list(range(draw(st.integers(1, 20))))
    def snap():
        present = draw(st.lists(st.booleans(), min_size=len(ids),
                                max_size=len(ids)))
        texts = draw(st.lists(st.sampled_from(["aa", "bb", "cc"]),
                              min_size=len(ids), max_size=len(ids)))
        return pd.DataFrame(
            {"id": [i for i, p in zip(ids, present) if p],
             "text": [t for t, p in zip(texts, present) if p]})
    return snap(), snap()


@given(data=snapshot_pairs())
@_settings
def test_corpus_diff_matches_pandas(spark, data):
    from juliadb_jl_spark.functions.curation import corpus_diff
    old_pdf, new_pdf = data
    old = spark.createDataFrame(old_pdf, "id long, text string")
    new = spark.createDataFrame(new_pdf, "id long, text string")
    got = {r["id"]: r["status"]
           for r in corpus_diff(old, new, id_col="id").collect()}
    m = old_pdf.merge(new_pdf, on="id", how="outer",
                      suffixes=("_o", "_n"))
    want = {}
    for _, r in m.iterrows():
        if pd.isna(r["text_o"]):
            want[r["id"]] = "added"
        elif pd.isna(r["text_n"]):
            want[r["id"]] = "removed"
        elif r["text_o"] == r["text_n"]:
            want[r["id"]] = "unchanged"
        else:
            want[r["id"]] = "changed"
    assert got == want


# ---------------------------------------------------------------------------
# split_leakage tiers agree on adversarial text (r7): the fused tier
# re-implements gram slicing in Python — it must agree with the
# declarative arrow_shingles/JVM-tokenizer shape of the broadcast and
# shuffle tiers on exotic whitespace, empty-ish docs, unicode, and short
# documents, and so must its overflow fallback.
# ---------------------------------------------------------------------------

_NASTY_WORDS = ["a", "bb", "ccc", "Ω∆", "naïve", "x" * 30, "0", "§"]
# \xa0 (NBSP) is DELIBERATE: Java's \s (the engine tokenizer) does
# NOT treat it as whitespace while Python's unicode \s does — the
# brute force below must use Java's class to match the contract.
_WS = [" ", "  ", "\t", "\n", " \t ", "\xa0"]


@st.composite
def nasty_docs(draw):
    n = draw(st.integers(4, 14))
    docs = []
    for i in range(n):
        kind = draw(st.integers(0, 4))
        if kind == 0:
            docs.append("")
        elif kind == 1:
            docs.append(draw(st.sampled_from(_WS)))
        else:
            nw = draw(st.integers(1, 12))
            words = [draw(st.sampled_from(_NASTY_WORDS))
                     for _ in range(nw)]
            seps = [draw(st.sampled_from(_WS)) for _ in range(nw - 1)]
            parts = [words[0]]
            for w, s_ in zip(words[1:], seps):
                parts += [s_, w]
            docs.append("".join(parts))
    splits = [draw(st.sampled_from(["train", "eval"])) for _ in docs]
    return list(zip(range(len(docs)), splits, docs))


@given(rows=nasty_docs())
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_split_leakage_fused_matches_shuffle_on_nasty_text(spark, rows):
    from tests.test_curation import _tier_outputs
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    with pytest.MonkeyPatch.context() as mp:
        out = _tier_outputs(df, 3, mp)
    for name, got in out.items():
        assert got == out["shuffle"], name


def signature_portable_expr(sets_, num_hashes):
    """JVM expression reference for the portable-family MinHash
    signature over an (id, shset) frame: explode + `portable_hash` base
    + one min aggregation per permutation. The fused Arrow pass must
    match it bit for bit."""
    from pyspark.sql import functions as F

    from juliadb_jl_spark.functions.dedup import (_P31, perm_constants,
                                                  portable_hash)
    a_, b_ = perm_constants(num_hashes)
    sh = (sets_.select("id", F.explode("shset").alias("sh"))
          .select("id", portable_hash(F.col("sh")).alias("hb")))
    mins = [F.expr(f"min(({a_[i]} * hb + {b_[i]}) % {_P31})")
            .alias(f"h{i}") for i in range(num_hashes)]
    return (sh.groupBy("id").agg(*mins)
            .select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                    .alias("signature")))


def signature_crcperm_expr(sets_, num_hashes):
    """JVM expression reference for the crc32perm MinHash signature:
    explode + `F.crc32` base + one min aggregation per permutation."""
    from pyspark.sql import functions as F

    from juliadb_jl_spark.functions.dedup import _P31, perm_constants
    a_, b_ = perm_constants(num_hashes)
    hb = F.crc32(F.encode(F.col("sh"), "UTF-8"))
    sh = (sets_.select("id", F.explode("shset").alias("sh"))
          .select("id", hb.alias("hb")))
    mins = [F.min((F.lit(a_[i]) * F.col("hb") + F.lit(b_[i]))
                  % F.lit(_P31)).alias(f"h{i}")
            for i in range(num_hashes)]
    return (sh.groupBy("id").agg(*mins)
            .select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                    .alias("signature")))


def signature_xxhash64_expr(sets_, num_hashes):
    """The removed pre-r7 xxhash64 MinHash family: explode + one
    `min(xxhash64(i, shingle))` aggregation per hash.  Kept only to
    build a metadata-less legacy index for the rebuild-error test."""
    from pyspark.sql import functions as F

    sh = sets_.select("id", F.explode("shset").alias("sh"))
    mins = [F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
            for i in range(num_hashes)]
    return (sh.groupBy("id").agg(*mins)
            .select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                    .alias("signature")))


@given(rows=nasty_docs())
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_minhash_crcperm_fused_matches_expr_on_nasty_text(spark, rows):
    """crc32perm fused signature ≡ its JVM expression twin on exotic
    whitespace/unicode/empty docs — the fused pass re-implements
    tokenize+shingle+hash in Python byte slices, so this pins the
    whole chain (Java-\\s tokenization, empty-token-preserving
    " "-joins, UTF-8 encode, CRC polynomial) against the declarative
    shape, example by example."""
    from juliadb_jl_spark.functions import dedup as DD
    df = spark.createDataFrame([(i, t) for i, _, t in rows],
                               "doc_id long, text string")
    fused = {r["id"]: tuple(r["signature"])
             for r in DD.minhash_signature(df, "doc_id", k=2,
                                           num_hashes=8).collect()}
    sets_ = DD._shingle_sets(df, "doc_id", "text", 2)
    expr = {r["id"]: tuple(r["signature"])
            for r in signature_crcperm_expr(sets_, 8).collect()}
    assert fused == expr


@given(rows=nasty_docs())
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_minhash_portable_fused_matches_expr_on_nasty_text(spark, rows):
    """portable-family fused signature ≡ its JVM expression twin
    (signature_portable_expr, the pre-r10 shipped shape) on exotic
    whitespace/unicode/empty docs — the r10 fused pass re-implements
    the 31-bit char-fold + permutation mins in vectorized numpy, and
    the q36/q67 ORACLE contract depends on this family bit-for-bit, so
    the parity the docstrings promise is pinned here example by
    example (r10 review finding: the test was claimed but absent)."""
    from juliadb_jl_spark.functions import dedup as DD
    df = spark.createDataFrame([(i, t) for i, _, t in rows],
                               "doc_id long, text string")
    fused = {r["id"]: tuple(r["signature"])
             for r in DD.minhash_signature(
                 df, "doc_id", k=2, num_hashes=8,
                 hash_family="portable").collect()}
    sets_ = DD._shingle_sets(df, "doc_id", "text", 2)
    expr = {r["id"]: tuple(r["signature"])
            for r in signature_portable_expr(sets_, 8).collect()}
    assert fused == expr


def phrase_counts(texts, n, lowercase=True):
    """Driver-side brute-force word n-gram count with the
    `frequent_phrases` tokenization: trim spaces only, split on Java's
    \\s class (not Python's unicode \\s, which also splits on NBSP),
    drop empty tokens (word_freqs parity), optionally lowercase."""
    import re
    from collections import Counter
    cnt = Counter()
    for t in texts:
        trimmed = (t or "").strip(" ")
        toks = [] if trimmed == "" else re.split(
            "[ \t\n\x0b\f\r]+", trimmed)
        toks = [w.lower() if lowercase else w for w in toks if w]
        for i in range(len(toks) - n + 1):
            cnt[" ".join(toks[i:i + n])] += 1
    return cnt


def frequent_report(cnt, min_count, k=None):
    """The (phrase, freq) rows `frequent_phrases` must return for a
    brute-force count: freq >= min_count, ordered (freq desc, phrase
    asc), cut to the top `k` when given."""
    rows = sorted(((p, c) for p, c in cnt.items() if c >= min_count),
                  key=lambda pc: (-pc[1], pc[0]))
    return rows if k is None else rows[:k]


@given(rows=nasty_docs(), mc=st.integers(1, 3), k=st.integers(1, 8))
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_frequent_phrases_matches_brute_force_on_nasty_text(
        spark, rows, mc, k):
    """Hashed-count + histogram-top-k pipeline ≡ a pure-Python brute
    count with the exact (freq desc, phrase asc) tie-break, on text
    with tabs/newlines/unicode/empty docs — for n = 1, 2, 3, both the
    top-k report and the full report (k=None)."""
    from pyspark.sql import functions as F

    from juliadb_jl_spark.functions.text import frequent_phrases
    df = spark.createDataFrame([(i, t) for i, _, t in rows],
                               "doc_id long, text string")
    for n in (1, 2, 3):
        cnt = phrase_counts([t for _, _, t in rows], n)
        for kk in (k, None):
            got = [(r["phrase"], r["freq"]) for r in
                   frequent_phrases(df, n=n, min_count=mc, k=kk)
                   .orderBy(F.desc("freq"), F.asc("phrase")).collect()]
            assert got == frequent_report(cnt, mc, kk), (n, kk)


@given(rows=nasty_docs())
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_novelty_hashed_matches_exact_on_nasty_text(spark, rows):
    """r8 fused poly128 gram keys ≡ the string-keyed reference on
    exotic whitespace/unicode/empty docs — pins the Python
    tokenize+lane build (and the twin distinct-count divisor) against
    the declarative arrow_shingles shape, example by example."""
    from juliadb_jl_spark.functions.curation import novelty_scores
    from tests.test_curation import novelty_scores_exact
    df = spark.createDataFrame([(i, t) for i, _, t in rows],
                               "doc_id long, text string")

    def key(out):
        return sorted((r["doc_id"], r["n_grams"], r["n_shared"],
                       round(r["novelty"], 9)) for r in out.collect())

    assert key(novelty_scores(df, "doc_id", n=3)) == \
        key(novelty_scores_exact(df, "doc_id", n=3))
