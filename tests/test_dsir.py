"""DSIR importance resampling (functions/dsir.py): feature hashing,
distribution fitting, scoring, and deterministic Gumbel-top-k selection
— differential vs a local numpy reimplementation, append-stability,
partition-layout invariance, input validation, and bit parity of the
fused histogram kernel with the reference featurizers.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

import juliadb_jl_spark.functions.dsir as DS
from juliadb_jl_spark.functions.dedup import _P31
from tests.test_property import nasty_docs

DOCS = [
    (0, "the cat sat on the mat", "en"),
    (1, "the dog ate the cat", "en"),
    (2, "le chien mange le chat", "fr"),
    (3, "el gato come queso", "es"),
    (4, "", "en"),
    (5, "cat", "en"),
    (6, "the the the the", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])


def _local_grams(text: str, bigrams: bool = True) -> list[str]:
    toks = text.split()
    out = list(toks)
    if bigrams:
        out += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return out


def _local_bucket(gram: str, n_buckets: int, seed: int = 1) -> int:
    import hashlib
    hexd = hashlib.md5(gram.encode()).hexdigest()
    h = 0
    for ch in hexd:
        h = (h * 31 + ord(ch)) % _P31
    a, b = DS.bucket_constants(seed)
    return ((a * h + b) % _P31) % n_buckets


def test_word_grams_golden(spark):
    df = spark.createDataFrame([("a b c",), ("",), ("solo",)], ["text"])
    got = [r[0] for r in
           df.select(DS.word_grams(F.col("text"))).collect()]
    assert got == [["a", "b", "c", "a b", "b c"], [], ["solo"]]
    uni = [r[0] for r in
           df.select(DS.word_grams(F.col("text"), bigrams=False)).collect()]
    assert uni == [["a", "b", "c"], [], ["solo"]]


def _word_grams_hof(col):
    """The zip_with higher-order form of `word_grams` — the reference its
    Arrow byte-slice bigram build must equal."""
    from juliadb_jl_spark.functions.text import tokens
    t = tokens(col)
    n = F.size(t)
    bi = F.when(n >= 2,
                F.zip_with(F.slice(t, F.lit(1), n - 1),
                           F.slice(t, F.lit(2), n - 1),
                           lambda x, y: F.concat(x, F.lit(" "), y))) \
        .otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def test_word_grams_arrow_equals_expr(spark):
    df = spark.createDataFrame(
        [("a b c d e",), ("",), (None,), ("one",),
         ("héllo wörld ünïcode",), ("\ttab lead x y",)], ["text"])
    rows = df.select(
        DS.word_grams(F.col("text")).alias("a"),
        _word_grams_hof(F.col("text")).alias("b")).collect()
    for r in rows:
        assert list(r["a"]) == list(r["b"])


def test_gram_bucket_matches_local(spark):
    grams = ["the", "cat sat", "é unicode", ""]
    df = spark.createDataFrame([(g,) for g in grams], ["g"])
    got = {r["g"]: r["b"] for r in
           df.select("g", DS.gram_bucket(F.col("g"), 64, seed=3,
                                         hash_family="portable")
                     .alias("b")).collect()}
    for g in grams:
        assert got[g] == _local_bucket(g, 64, seed=3)
        assert 0 <= got[g] < 64


def test_bucket_logp_is_distribution(spark, docs):
    lp = DS.bucket_logp(docs, n_buckets=32).collect()
    assert len(lp) == 32  # every bucket present, zero-count included
    total = sum(math.exp(r["logp"]) for r in lp)
    assert abs(total - 1.0) < 1e-9  # smoothing renormalizes exactly


def test_scores_match_local_reimplementation(spark, docs):
    nb, seed, alpha = 32, 1, 1.0
    target = docs.filter(F.col("lang") == "en")
    lr = DS.dsir_logratios(target, docs, n_buckets=nb, seed=seed,
                           smoothing=alpha, hash_family="portable")
    got = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
           DS.dsir_scores(docs, "doc_id", lr, n_buckets=nb,
                          seed=seed, hash_family="portable").collect()}

    # local fit
    def dist(rows):
        counts = [0] * nb
        for _, text, _ in rows:
            for g in _local_grams(text):
                counts[_local_bucket(g, nb, seed)] += 1
        tot = sum(counts)
        return [math.log((c + alpha) / (tot + alpha * nb)) for c in counts]

    lt = dist([r for r in DOCS if r[2] == "en"])
    lraw = dist(DOCS)
    for doc_id, text, _ in DOCS:
        grams = _local_grams(text)
        want = sum(lt[_local_bucket(g, nb, seed)]
                   - lraw[_local_bucket(g, nb, seed)] for g in grams)
        n, logw = got[doc_id]
        assert n == len(grams)
        assert abs(logw - want) < 1e-9
    # gram-less doc present with neutral weight
    assert got[4] == (0, 0.0)


def test_scores_append_stable(spark, docs):
    """With a FIXED log-ratio table, a document's score never changes
    when other documents arrive (the per-batch production shape)."""
    lr = DS.dsir_logratios(docs.filter(F.col("lang") == "en"), docs,
                           n_buckets=32)
    base = {r["doc_id"]: r["logw"] for r in
            DS.dsir_scores(docs, "doc_id", lr, n_buckets=32).collect()}
    extra = spark.createDataFrame(
        [(100, "entirely new words here", "en")],
        ["doc_id", "text", "lang"])
    both = {r["doc_id"]: r["logw"] for r in
            DS.dsir_scores(docs.union(extra), "doc_id", lr,
                           n_buckets=32).collect()}
    for k, v in base.items():
        assert both[k] == v


def test_scores_partition_invariant(spark, docs):
    lr = DS.dsir_logratios(docs.filter(F.col("lang") == "en"), docs,
                           n_buckets=32)
    ref = None
    for nparts in (1, 2, 5):
        got = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
               DS.dsir_scores(docs.repartition(nparts), "doc_id", lr,
                              n_buckets=32).collect()}
        if ref is None:
            ref = got
        else:
            assert got.keys() == ref.keys()
            for k in ref:
                assert got[k][0] == ref[k][0]
                assert abs(got[k][1] - ref[k][1]) < 1e-9


def test_gumbel_key_matches_local(spark, docs):
    lr = DS.dsir_logratios(docs.filter(F.col("lang") == "en"), docs,
                           n_buckets=32)
    sc = DS.dsir_scores(docs, "doc_id", lr, n_buckets=32)
    sel = DS.dsir_select(sc, 3, "doc_id", seed=1)
    rows = sel.collect()
    assert len(rows) == 3
    a, b = DS.gumbel_constants(1)
    for r in rows:
        ph = (a * _local_bucket_raw(str(r["doc_id"])) + b) % _P31
        u = (ph + 0.5) / _P31
        want = r["logw"] - math.log(-math.log(u))
        assert abs(r["gumbel"] - want) < 1e-9


def _local_bucket_raw(key: str) -> int:
    import hashlib
    hexd = hashlib.md5(key.encode()).hexdigest()
    h = 0
    for ch in hexd:
        h = (h * 31 + ord(ch)) % _P31
    return h


def test_select_deterministic_and_ordered(spark, docs):
    lr = DS.dsir_logratios(docs.filter(F.col("lang") == "en"), docs,
                           n_buckets=32)
    sc = DS.dsir_scores(docs, "doc_id", lr, n_buckets=32)
    one = [r["doc_id"] for r in DS.dsir_select(sc, 4, "doc_id").collect()]
    two = [r["doc_id"] for r in
           DS.dsir_select(sc.repartition(3), 4, "doc_id").collect()]
    assert one == two  # layout-independent
    bigger = [r["doc_id"] for r in
              DS.dsir_select(sc, 6, "doc_id").collect()]
    assert bigger[:4] == one  # top-k is a prefix of top-(k+2)
    # a different seed reorders (independent Gumbel stream)
    other = [r["doc_id"] for r in
             DS.dsir_select(sc, 4, "doc_id", seed=2).collect()]
    assert set(other) != set(one) or other != one


def test_pipeline_shape(spark, docs):
    out = DS.dsir_pipeline(docs, docs.filter(F.col("lang") == "en"),
                           "doc_id", k=2)
    assert out.columns == ["doc_id", "n_grams", "logw", "gumbel"]
    assert out.count() == 2


def test_fit_and_score_matches_two_pass(spark, docs):
    """The one-explode dsir_fit_and_score ≡ the generic
    dsir_logratios → dsir_scores composition."""
    lr = DS.dsir_logratios(docs.filter(F.col("lang") == "en"), docs,
                           n_buckets=32)
    two = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
           DS.dsir_scores(docs, "doc_id", lr, n_buckets=32).collect()}
    one = {r["doc_id"]: (r["n_grams"], r["logw"]) for r in
           DS.dsir_fit_and_score(docs, "doc_id", F.col("lang") == "en",
                                 n_buckets=32).collect()}
    assert one.keys() == two.keys()
    for k in two:
        assert one[k][0] == two[k][0]
        assert abs(one[k][1] - two[k][1]) < 1e-9


def test_hash_families_agree_structurally(spark, docs):
    """xxhash64 (native scale path) and portable (oracle path) agree on
    everything except which grams collide: same n_grams per doc, both
    distributions normalize, both selects return k rows."""
    import math as _m
    for fam in ("xxhash64", "portable"):
        lp = DS.bucket_logp(docs, n_buckets=32, hash_family=fam).collect()
        assert abs(sum(_m.exp(r["logp"]) for r in lp) - 1.0) < 1e-9
    fast = {r["doc_id"]: r["n_grams"] for r in
            DS.dsir_fit_and_score(docs, "doc_id", F.col("lang") == "en",
                                  n_buckets=32).collect()}
    slow = {r["doc_id"]: r["n_grams"] for r in
            DS.dsir_fit_and_score(docs, "doc_id", F.col("lang") == "en",
                                  n_buckets=32,
                                  hash_family="portable").collect()}
    assert fast == slow


# ---------------------------------------------------------------------------
# Input validation: inputs the SQL would absorb silently are rejected
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kw", [
    {"hash_family": "md5"},        # would run the portable branch
    {"n_buckets": 0},              # pmod(·, 0) is NULL
    {"n_buckets": -3},
    {"n_buckets": 1 << 31},        # beyond the histogram's int bucket
])
def test_entry_points_reject_bad_bucketing(spark, docs, kw):
    args = dict(n_buckets=32, hash_family="portable")
    args.update(kw)
    lr = DS.dsir_logratios(docs, docs, n_buckets=32)
    calls = [
        lambda: DS.gram_bucket(F.col("text"), args["n_buckets"],
                               hash_family=args["hash_family"]),
        lambda: DS.doc_bucket_counts(docs, "doc_id", **args),
        lambda: DS.bucket_logp(docs, **args),
        lambda: DS.dsir_logratios(docs, docs, **args),
        lambda: DS.dsir_scores(docs, "doc_id", lr, **args),
        lambda: DS.dsir_fit_and_score(docs, "doc_id",
                                      F.col("lang") == "en", **args),
        lambda: DS.dsir_pipeline(docs, docs, "doc_id", 2, **args),
    ]
    for call in calls:
        with pytest.raises(ValueError):
            call()


@pytest.mark.parametrize("alpha", [0.0, -1.0, float("nan"), float("inf")])
def test_entry_points_reject_bad_smoothing(spark, docs, alpha):
    # log(0 + 0) is NULL in Spark: a target-absent bucket's ratio would
    # vanish from the coalesce(sum(...)) instead of failing
    calls = [
        lambda: DS.bucket_logp(docs, smoothing=alpha),
        lambda: DS.dsir_logratios(docs, docs, smoothing=alpha),
        lambda: DS.dsir_fit_and_score(docs, "doc_id",
                                      F.col("lang") == "en",
                                      smoothing=alpha),
        lambda: DS.dsir_pipeline(docs, docs, "doc_id", 2, smoothing=alpha),
    ]
    for call in calls:
        with pytest.raises(ValueError):
            call()


# ---------------------------------------------------------------------------
# Fused histogram kernel ≡ the reference featurizers
# ---------------------------------------------------------------------------

def _random_strings(rng, n: int) -> list[str]:
    """0–100-byte strings mixing ASCII, whitespace, 2/3-byte and astral
    (4-byte UTF-8, surrogate pairs in the JVM) characters."""
    pools = [(32, 126), (0xA0, 0x7FF), (0x800, 0xD7FF), (0x10000, 0x10FFFF)]
    out = ["", " ", "a", "x" * 32, "é" * 50]
    while len(out) < n:
        s = "".join(chr(rng.randint(*rng.choice(pools)))
                    for _ in range(rng.randint(0, 60)))
        if len(s.encode("utf-8")) <= 100:
            out.append(s)
    return out


def test_xxhash64_kernel_matches_spark(spark):
    import random

    import numpy as np
    strs = _random_strings(random.Random(11), 1500)
    enc = [s.encode("utf-8") for s in strs]
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    df = spark.createDataFrame(list(enumerate(strs)), "i int, s string")
    # int literal seeds take hashInt; a seed past 32 bits is a bigint
    # literal and takes hashLong
    for seed in (1, 3, -7, 1 << 40):
        want = [r["h"] for r in
                df.orderBy("i")
                .select(F.xxhash64("s", F.lit(seed)).alias("h")).collect()]
        got = DS._xxhash64_spark(buf, starts, starts + lens, seed)
        assert got.tolist() == want, seed


def _reference_histograms(df, bigrams: bool, combos):
    """{(combo, doc_id): {bucket: count}} via word_grams → explode →
    gram_bucket → count, for every (seed, family) combo at once."""
    g = df.select("doc_id", F.explode(DS.word_grams(F.col("text"), bigrams))
                  .alias("g"))
    rows = g.select("doc_id", *[
        DS.gram_bucket(F.col("g"), 64, s, fam).alias(f"b{i}")
        for i, (s, fam) in enumerate(combos)]).collect()
    out: dict = {}
    for r in rows:
        for i in range(len(combos)):
            h = out.setdefault((i, r["doc_id"]), {})
            h[r[f"b{i}"]] = h.get(r[f"b{i}"], 0) + 1
    return out


@given(rows=nasty_docs())
@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_fused_histogram_matches_reference_on_nasty_text(spark, rows):
    df = spark.createDataFrame([(i, t) for i, _, t in rows],
                               "doc_id long, text string")
    combos = [(s, fam) for s in (1, 3) for fam in ("xxhash64", "portable")]
    for bigrams in (True, False):
        want = _reference_histograms(df, bigrams, combos)
        got = df.select("doc_id", *[
            DS._doc_hist(F.col("text"), 64, s, bigrams, fam).alias(f"h{i}")
            for i, (s, fam) in enumerate(combos)]).collect()
        for r in got:
            for i in range(len(combos)):
                h = r[f"h{i}"]
                ref = want.get((i, r["doc_id"]))
                if ref is None:
                    assert h is None   # gram-less → NULL, not []
                    continue
                assert [e["bucket"] for e in h] == sorted(ref)
                assert {e["bucket"]: e["cnt"] for e in h} == ref


def _plan_nodes(spark, plan) -> list:
    """Every node of an executed physical plan, descending into AQE
    query stages, reused exchanges and cached relations; a subtree shared
    by several parents (one cached table read twice) is listed once."""
    ident = spark._jvm.System.identityHashCode
    seen, out, todo = set(), [], [plan]
    while todo:
        p = todo.pop()
        if ident(p) in seen:
            continue
        seen.add(ident(p))
        out.append(p)
        name = p.nodeName()
        kids = p.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif "QueryStage" in name:
            todo.append(p.plan())
        elif name == "ReusedExchange":
            todo.append(p.child())
        elif name == "InMemoryTableScan":
            todo.append(p.relation().cachedPlan())
    return out


def test_fit_and_score_plan_shape(spark, docs):
    """One fused Python pass; no per-gram explode of gram strings and no
    (id, target, bucket) exchange anywhere in the executed plan."""
    from juliadb_jl_spark.functions.scratch import release_scratch
    sc = DS.dsir_fit_and_score(docs, "doc_id", F.col("lang") == "en",
                               n_buckets=32, hash_family="portable")
    try:
        sc.collect()
        nodes = _plan_nodes(spark, sc._jdf.queryExecution().executedPlan())
    finally:
        release_scratch()
    names = [n.nodeName() for n in nodes]
    assert names.count("ArrowEvalPython") == 1, names
    gen_types = [n.generator().children().apply(0).dataType().simpleString()
                 for n in nodes if n.nodeName() == "Generate"]
    assert gen_types and "array<string>" not in gen_types, gen_types
    keyed = [n.outputPartitioning().toString() for n in nodes
             if n.nodeName() == "Exchange"]
    assert not any("__t" in k and "bucket" in k for k in keyed), keyed
