"""The shared Arrow kernel layer (functions/_kernels.py).

Bit parity: every batch kernel built on `_kernels` returns, row by row,
exactly what its per-doc Python form (tests/kernel_refs.py) returned —
NULL versus [] included — on adversarial text (`nasty_docs`: exotic
whitespace, empty and astral tokens, short docs) and on the sf0.01 and
sf0.1 `documents`.  Every batch is fed twice, as a sliced ListArray with
NULL rows (the slice-offset and null-mask cases) and with a
`large_string` child.

Batch-size invariance: every op that runs a kernel gives the same output
at spark.sql.execution.arrow.maxRecordsPerBatch = 1, 7 and the default.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import _kernels as K
from juliadb_jl_spark.functions import dedup as D
from juliadb_jl_spark.functions import dsir as S
from juliadb_jl_spark.functions import text as T
from tests import kernel_refs as R
from tests.test_property import nasty_docs

NH = 16


def _token_lists(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [r["t"] for r in
            df.select(T.tokens(F.col("text")).alias("t")).collect()]


def _batches(lists):
    """The same rows as a sliced list<string> array and as a
    list<large_string> array."""
    sliced = pa.array([["pad"], None] + lists,
                      pa.list_(pa.string())).slice(2)
    return sliced, pa.array(lists, pa.list_(pa.large_string()))


def _gram_key_rows(col, n, drop_empty=False):
    nwin, _, h1, h2 = K.gram_keys(K.tokens_of(col, drop_empty), n)
    doc, h1, h2 = K.doc_unique(K.row_index(nwin), h1, h2)
    return list(zip(doc.tolist(), h1.view(np.int64).tolist(),
                    h2.view(np.int64).tolist()))


def _phrase_rows(col, n, cand=None):
    t = K.tokens_of(col, drop_empty=True)
    _, g, h1, h2 = K.gram_keys(t, n)
    s1, s2 = h1.view(np.int64), h2.view(np.int64)
    sel = (np.arange(len(g)) if cand is None
           else K.candidate_hits(s1, s2, cand, set()))
    g = g[sel]
    return list(zip(K.slice_strings(t.buf, t.st[g],
                                    t.en[g + n - 1]).to_pylist(),
                    s1[sel].tolist(), s2[sel].tolist()))


def _assert_parity(lists, k=3, w=4):
    lists = [None, *lists, None, []]
    sets = [None if g is None else list(dict.fromkeys(g))
            for g in [None if t is None else R.gram_join([t], k)[0]
                      for t in lists]]
    sets_arr = _batches(sets)[0]
    for col in _batches(lists):
        assert D._crcperm_from_tokens(col, k, NH).to_pylist() == \
            R.crcperm_fused(lists, k, NH)
        assert T._gram_strings(col, k).to_pylist() == R.gram_join(lists, k)
        for fmt in ("hex", "bin", "u64"):
            got = D._window_fps_batch(col, k, fmt).to_pylist()
            assert [(r["fps"], r["poss"]) for r in got] == \
                R.window_fps(lists, k, fmt), fmt
        assert [sorted(r) for r in D._window_fp_set_batch(col, k)
                .to_pylist()] == [sorted(r) for r in
                                  R.window_fp_set(lists, k)]
        got = D._winnow_batch(col, k, w).to_pylist()
        assert [(r["fps"], r["poss"]) for r in got] == \
            R.winnow_select(lists, k, w)
        for de in (False, True):
            assert T._distinct_gram_count(col, k, de).to_pylist() == \
                R.distinct_gram_count(lists, k, de)
        ids = list(range(len(lists)))
        assert _gram_key_rows(col, k) == R.doc_keys(ids, lists, k)
        occ = R.phrases(lists, k)
        assert _phrase_rows(col, k) == occ
        keys = sorted({(a, b) for _, a, b in occ})[::3]
        cand = (np.sort(np.array([a for a, _ in keys], dtype=np.int64)),
                frozenset(keys))
        assert _phrase_rows(col, k, cand) == R.phrases(lists, k, cand,
                                                       set())
        for fam in ("xxhash64", "portable"):
            for bigrams in (False, True):
                want = [None if h is None else
                        [{"bucket": b, "cnt": c} for b, c in h]
                        for h in R.doc_histograms(lists, 64, 1, bigrams,
                                                  fam)]
                assert S._doc_histograms(col, 64, 1, bigrams, fam) \
                    .to_pylist() == want, (fam, bigrams)
    for col in (sets_arr, _batches(sets)[1]):
        assert D._crcperm_from_sets(col, NH).to_pylist() == \
            R.crcperm_sets(sets, NH)
        assert D._portable_from_sets(col, NH).to_pylist() == \
            R.portable_sets(sets, NH)


@pytest.mark.parametrize("lists", [[], [[""]], [["", ""], ["a"]],
                                   [["a", "", "b", ""]]])
def test_kernels_match_refs_on_edge_batches(lists):
    _assert_parity(lists, k=1)
    _assert_parity(lists, k=2)
    empty = pa.array([], pa.list_(pa.string()))
    assert len(D._crcperm_from_tokens(empty, 1, NH)) == 0
    assert len(T._gram_strings(empty, 1)) == 0
    assert len(S._doc_histograms(empty, 8, 1, True, "portable")) == 0


@pytest.mark.parametrize("step", [1, 7, 64])
def test_slice_strings_across_gather_steps(monkeypatch, step):
    rng = np.random.default_rng(1)
    buf = rng.integers(97, 123, 1000).astype(np.uint8)
    st = rng.integers(0, 900, 300)
    en = st + rng.integers(0, 50, 300)
    monkeypatch.setattr(K, "_GATHER_STEP", step)
    assert K.slice_strings(buf, st, en).to_pylist() == \
        [bytes(buf[s:e]).decode() for s, e in zip(st, en)]


@given(rows=nasty_docs())
@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_kernels_match_refs_on_nasty_text(spark, rows):
    lists = _token_lists(spark, [t for _, _, t in rows]
                         + ["😀 \U0001F600x 𝔘 😀 \U0001F600x 𝔘", "a"])
    for k in (1, 3):
        _assert_parity(lists, k=k)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_kernels_match_refs_on_documents(spark, sf):
    from juliadb_jl_spark.sources.testdata import read_table
    from tests.conftest import SF_DIR
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip(f"no {sf} documents")
    docs = read_table(spark, sf_dir, "documents")
    lists = [r["t"] for r in docs.orderBy("doc_id").select(
        T.tokens(F.col("text")).alias("t")).collect()]
    _assert_parity(lists, k=5)


# ---------------------------------------------------------------------------
# Arrow batch-size invariance
# ---------------------------------------------------------------------------

_BATCH_TEXTS = [None, "", "   ", "one", "two words",
                "the cat sat on the mat and the cat sat on the mat again",
                "astral 😀 \U0001F600x 𝔘 astral 😀 \U0001F600x 𝔘 tail",
                "naïve Ω∆ § naïve Ω∆ § naïve Ω∆ § end",
                "a b c d e f g h i j k l m n o p",
                "a b c d e f g h i j k l m n o p",
                "x y z a b c d e f g h q r s"]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_arrow_batch_size_invariance(spark):
    from juliadb_jl_spark.functions import curation as CU
    from juliadb_jl_spark.functions.incremental import substring_index
    rows = [(i, "eval" if i % 3 == 0 else "train", t)
            for i, t in enumerate(_BATCH_TEXTS * 3)]
    df = spark.createDataFrame(rows, "doc_id long, split string, "
                                     "text string").repartition(2)
    target = df.filter(F.col("doc_id") % 2 == 0)
    ops = {
        "minhash_crc32perm": lambda: D.minhash_signature(
            df, "doc_id", num_hashes=NH),
        "minhash_portable": lambda: D.minhash_signature(
            df, "doc_id", num_hashes=NH, hash_family="portable"),
        "minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(
            df, "doc_id", num_hashes=NH, bands=8, unique_lift=False),
        "ngram_jaccard_pairs": lambda: D.ngram_jaccard_pairs(
            df, "doc_id", threshold=0.3),
        "duplicate_spans": lambda: D.duplicate_spans(df, "doc_id", k=3),
        "substring_index": lambda: substring_index(df, "doc_id", k=3),
        "winnow_fingerprints": lambda: D.winnow_fingerprints(
            df, "doc_id", k=3, w=2),
        "frequent_phrases": lambda: T.frequent_phrases(df, n=2,
                                                       min_count=2),
        "frequent_phrases_topk": lambda: T.frequent_phrases(
            df, n=2, min_count=2, k=3),
        "novelty_scores": lambda: CU.novelty_scores(df, "doc_id", n=3),
        "split_leakage": lambda: CU.split_leakage(df, n=3),
        "dsir_scores": lambda: S.dsir_scores(
            df, "doc_id", S.dsir_logratios(target, df, n_buckets=32),
            n_buckets=32).select("doc_id", "n_grams",
                                 F.round("logw", 9)),
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    outs = {}
    try:
        for size in (1, 7, None):
            if size is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, str(size))
            outs[size] = {name: _sorted(op()) for name, op in ops.items()}
    finally:
        spark.conf.set(key, old)
    for name in ops:
        assert outs[1][name] == outs[None][name], name
        assert outs[7][name] == outs[None][name], name
    assert outs[None]["minhash_crc32perm"]
    assert outs[None]["duplicate_spans"]
    assert outs[None]["frequent_phrases"]
