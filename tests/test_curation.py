"""Corpus-curation operators (functions/curation.py): repetition
signals vs hand-computed goldens, PII detect/redact, contamination
against a brute-force oracle, and the deterministic global shuffle
(permutation, seed-keying, partition invariance, scale-plan assert)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import curation as CU


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat the cat sat again"),
        (1, "a a a a a a a a"),
        (2, "all tokens here are completely distinct words"),
        (3, "para one\n\npara one\n\npara two"),
        (4, ""),
        (5, "line1\nline1\nline2\nline3"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_stats_golden(corpus):
    out = {r["doc_id"]: r for r in CU.repetition_stats(corpus).collect()}
    # doc 1: 8 tokens, 1 distinct -> dup_tok 7/8; 7 bigrams all "a a"
    assert out[1]["dup_tok_frac"] == pytest.approx(7 / 8)
    assert out[1]["dup_2gram_frac"] == pytest.approx(6 / 7)
    assert out[1]["top_2gram_frac"] == pytest.approx(1.0)
    # doc 2: all distinct
    assert out[2]["dup_tok_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0
    # doc 3: 3 paragraphs, 2 distinct
    assert out[3]["dup_para_frac"] == pytest.approx(1 / 3)
    # doc 5: 4 lines, 3 distinct
    assert out[5]["dup_line_frac"] == pytest.approx(1 / 4)
    # doc 0: "the cat sat" family — 10 tokens, 6 distinct; top bigram
    # "the cat"/"cat sat" appears 2x of 9
    assert out[0]["dup_tok_frac"] == pytest.approx(4 / 10)
    assert out[0]["top_2gram_frac"] == pytest.approx(2 / 9)
    # empty doc: all zeros, no nulls
    assert all(out[4][c] == 0.0 for c in
               ("dup_line_frac", "dup_para_frac", "dup_tok_frac",
                "dup_2gram_frac", "dup_3gram_frac", "top_2gram_frac"))


def test_top_ngram_grouped_matches_per_row(corpus):
    """The explode-based large-doc variant must agree with the per-row
    native expression on every doc (including < n tokens -> 0.0)."""
    per_row = {r["doc_id"]: r["top_2gram_frac"]
               for r in CU.repetition_stats(corpus).collect()}
    grouped = {r["doc_id"]: r["top_ngram_frac"]
               for r in CU.top_ngram_fraction_grouped(
                   corpus, "doc_id", n=2).collect()}
    assert set(grouped) == set(per_row)
    for k in per_row:
        assert grouped[k] == pytest.approx(per_row[k]), k


def test_pii_counts_and_scrub(spark):
    rows = [
        (0, "mail me at alice.smith+x@example.co.uk or bob@test.org"),
        (1, "server 192.168.1.254 then call (415) 555-2671 now"),
        (2, "nothing sensitive here 12345"),
        (3, "mixed a@b.io from 10.0.0.1 phone 555-867-5309"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in CU.add_pii_columns(df).collect()}
    assert (out[0]["n_pii_email"], out[0]["n_pii_ipv4"],
            out[0]["n_pii_phone"]) == (2, 0, 0)
    assert (out[1]["n_pii_email"], out[1]["n_pii_ipv4"],
            out[1]["n_pii_phone"]) == (0, 1, 1)
    assert (out[2]["n_pii_email"], out[2]["n_pii_ipv4"],
            out[2]["n_pii_phone"]) == (0, 0, 0)
    assert (out[3]["n_pii_email"], out[3]["n_pii_ipv4"],
            out[3]["n_pii_phone"]) == (1, 1, 1)
    assert out[2]["text_scrubbed"] == out[2]["text"]  # no-op on clean text
    s = out[3]["text_scrubbed"]
    assert "<EMAIL>" in s and "<IPV4>" in s and "<PHONE>" in s
    assert "a@b.io" not in s and "10.0.0.1" not in s and "5309" not in s
    # email scrubbed before ipv4/phone: the address never half-matches
    assert out[0]["text_scrubbed"] == \
        "mail me at <EMAIL> or <EMAIL>"


def test_contamination_vs_bruteforce(spark):
    import itertools
    texts = ["alpha beta gamma delta epsilon zeta",
             "alpha beta gamma delta epsilon eta theta",
             "one two three four five six seven",
             "short doc", ""]
    corpus = spark.createDataFrame(list(enumerate(texts)),
                                   ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"),
         (1, "five six seven eight nine")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           CU.contamination_report(corpus, bench, n=5).collect()}

    def grams(t, n=5):
        toks = t.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    bset = set(itertools.chain.from_iterable(
        grams(t) for _, t in [(0, "alpha beta gamma delta epsilon"),
                              (1, "five six seven eight nine")]))
    for i, t in enumerate(texts):
        g = grams(t)
        assert out[i]["n_grams"] == len(g), i
        assert out[i]["n_hits"] == len(g & bset), i
        expect = len(g & bset) / len(g) if g else 0.0
        assert out[i]["contamination"] == pytest.approx(expect), i


def test_shuffle_rows_permutation_and_seed(spark):
    df = spark.createDataFrame([(i, i * 2) for i in range(500)],
                               ["k", "v"])
    out = CU.shuffle_rows(df, "k", seed=3, pos_col="pos").collect()
    assert sorted(r["k"] for r in out) == list(range(500))   # permutation
    assert sorted(r["pos"] for r in out) == list(range(500))  # 0-based dense
    order1 = [r["k"] for r in sorted(out, key=lambda r: r["pos"])]
    assert order1 != list(range(500))  # actually shuffled
    # deterministic: same seed + repartitioned input -> identical order
    out2 = CU.shuffle_rows(df.repartition(13), "k", seed=3,
                           pos_col="pos").collect()
    order2 = [r["k"] for r in sorted(out2, key=lambda r: r["pos"])]
    assert order2 == order1
    # seed-keyed: a different seed gives a different permutation
    out3 = CU.shuffle_rows(df, "k", seed=4, pos_col="pos").collect()
    order3 = [r["k"] for r in sorted(out3, key=lambda r: r["pos"])]
    assert order3 != order1


def test_shuffle_rows_no_single_partition_exchange(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    plan = CU.shuffle_rows(df, "k", pos_col="pos") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_c4_line_clean_golden(spark):
    rows = [
        (0, "A real sentence with enough words here.\n"
            "too short.\n"
            "no terminal punctuation at all\n"
            "Lorem Ipsum should always be dropped, obviously.\n"
            "Another proper sentence survives the filter!\n"
            "\n"
            "function() { code-looking line is dropped. }"),
        (1, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in CU.c4_line_clean(df).collect()}
    assert out[0]["n_lines"] == 6          # blank line excluded
    assert out[0]["n_kept"] == 2
    assert out[0]["text_clean"] == (
        "A real sentence with enough words here.\n"
        "Another proper sentence survives the filter!")
    assert out[1]["n_lines"] == 0 and out[1]["n_kept"] == 0
    assert out[1]["text_clean"] == ""


def test_c4_line_clean_is_shuffle_free(spark):
    df = spark.createDataFrame([(0, "x.")], ["doc_id", "text"])
    plan = CU.c4_line_clean(df) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_curation_ops_run_on_streams(spark, tmp_path):
    """Stateless curation operators are plain Column maps, so the SAME
    code runs under Structured Streaming: stream the corpus from
    parquet, clean + scrub + feature it, and compare to the batch run
    of the identical pipeline."""
    import pandas as pd
    from juliadb_jl_spark.functions import text as TX
    from juliadb_jl_spark.streaming.aggregate import (run_to_memory,
                                                      stream_from_parquet)
    pdf = pd.DataFrame({
        "doc_id": range(20),
        "text": [f"Document number {i} has enough words here.\n"
                 f"contact user{i}@example.com\n"
                 "tiny line" for i in range(20)]})
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(pdf).write.parquet(src)

    def curate(df):
        out = CU.c4_line_clean(df)
        out = CU.add_pii_columns(out)
        return out.select("doc_id", "n_kept", "n_pii_email",
                          TX.token_count(F.col("text_scrubbed"))
                          .alias("n_tokens"))

    batch = curate(spark.read.parquet(src)).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    stream = stream_from_parquet(spark, src)
    streamed = run_to_memory(curate(stream), "curated_stream",
                             mode="append").toPandas() \
        .sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(batch, streamed)
    assert (batch["n_pii_email"] == 1).all()
    assert (batch["n_kept"] == 1).all()  # only the sentence line survives


def test_jaccard_unique_lift_differential(spark):
    """On a duplicate-dense corpus, the unique-text lift must produce
    EXACTLY the direct path's pairs — including jaccard-1.0 intra
    pairs, cross-cluster pairs at the representatives' jaccard, and no
    pairs among shingle-less (short) duplicate texts."""
    from juliadb_jl_spark.functions import dedup as DD
    base = ["the quick brown fox jumps over the lazy dog today",
            "the quick brown fox jumps over the lazy cat today",
            "completely different text about spark query engines here",
            "tiny doc",  # < k tokens → no shingles
            # case variant of base[0]: shingles are case-SENSITIVE, so
            # this must NOT cluster with base[0] (ADVICE r3 high — a
            # case-folding cluster key emitted bogus jaccard-1.0 pairs)
            "The Quick Brown Fox Jumps Over The Lazy Dog Today",
            # whitespace variant of base[0]: tokenizes identically, so it
            # MUST cluster with base[0] (cluster key is ws-normalized)
            "the  quick  brown fox jumps  over the lazy dog today "]
    rows = []
    for i, t in enumerate(base):
        for c in range(3):  # 3 exact copies of every text
            rows.append((i * 10 + c, t))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    direct = DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=0.3,
                                    unique_lift=False).toPandas()
    lifted = DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=0.3,
                                    unique_lift=True).toPandas()
    key = ["id_a", "id_b"]
    direct = direct.sort_values(key, ignore_index=True)
    lifted = lifted.sort_values(key, ignore_index=True)
    import pandas as pd
    pd.testing.assert_frame_equal(direct, lifted)
    # sanity: intra pairs exist at 1.0; "tiny doc" copies pair nowhere
    assert (lifted["jaccard"] == 1.0).sum() >= 3 * len(base[:3])
    tiny_ids = {30, 31, 32}
    assert not lifted[["id_a", "id_b"]].isin(tiny_ids).any().any()


def test_minhash_unique_lift_differential(spark):
    """Clique-triggered MinHash lift must emit EXACTLY the direct banded
    path's pairs — the lift exists because a c-member clique of
    identical docs costs bands*c^2/2 candidate rows on the direct path."""
    from juliadb_jl_spark.functions import dedup as DD
    import pandas as pd
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(30)]  # 30-member exact-dup clique
    rows += [(100 + i, f"unique doc number {i} with distinct words w{i * 7}")
             for i in range(10)]
    rows += [(200, "tiny"), (201, "tiny")]  # dup cluster w/o shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = ["id_a", "id_b"]
    for verify in (True, False):
        a = DD.minhash_lsh_pairs(df, "doc_id", threshold=0.5, verify=verify,
                                 unique_lift=True).toPandas()
        b = DD.minhash_lsh_pairs(df, "doc_id", threshold=0.5, verify=verify,
                                 unique_lift=False).toPandas()
        pd.testing.assert_frame_equal(a.sort_values(key, ignore_index=True),
                                      b.sort_values(key, ignore_index=True))
    assert len(a) >= 30 * 29 // 2  # the clique's member pairs all present
    assert not a[key].isin({200, 201}).any().any()
    # same clique guard for simhash (identical texts → hamming 0)
    sa = DD.simhash_pairs(df, "doc_id", unique_lift=True).toPandas()
    sb = DD.simhash_pairs(df, "doc_id", unique_lift=False).toPandas()
    pd.testing.assert_frame_equal(sa.sort_values(key, ignore_index=True),
                                  sb.sort_values(key, ignore_index=True))
    assert (sa.merge(pd.DataFrame({"id_a": [0], "id_b": [1]}))["hamming"]
            == 0).all()


def test_minhash_bucket_cap(spark):
    """bucket_cap prunes hot band buckets (shared-boilerplate skew):
    capped candidates are a subset of uncapped; a generous cap changes
    nothing; true near-dup pairs that share a COLD bucket survive."""
    import pandas as pd

    from juliadb_jl_spark.functions import dedup as DD
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} tail{i} a{i} b{i} c{i} d{i} e{i} f{i} g{i} "
                f"h{i} j{i}") for i in range(300)]
    # one genuine near-dup pair differing in a single tail token
    rows += [(1000, f"{boiler} same same same same same same same same "
                    "same one"),
             (1001, f"{boiler} same same same same same same same same "
                    "same two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.5, verify=False, unique_lift=False)
    uncapped = DD.minhash_lsh_pairs(df, "doc_id", **kw).toPandas()
    capped = DD.minhash_lsh_pairs(df, "doc_id", bucket_cap=8,
                                  **kw).toPandas()
    generous = DD.minhash_lsh_pairs(df, "doc_id", bucket_cap=10_000,
                                    **kw).toPandas()
    key = ["id_a", "id_b"]
    u = set(map(tuple, uncapped[key].values))
    c = set(map(tuple, capped[key].values))
    assert c <= u and len(c) < len(u)
    pd.testing.assert_frame_equal(
        generous.sort_values(key, ignore_index=True),
        uncapped.sort_values(key, ignore_index=True))
    assert (1000, 1001) in c  # cold-bucket near-dup pair survives the cap


def test_auto_cap_histogram(spark):
    """_auto_cap from the size histogram: benign distributions choose no
    cap (exact recall preserved); a pathological hot key chooses the
    LARGEST cap that still bounds the fanout — i.e. it drops exactly the
    hot key and nothing else."""
    from juliadb_jl_spark.functions.dedup import _auto_cap

    def counts(pairs):  # (size, n_keys) → a (key, count) frame
        rows = [(f"k{sz}_{i}", sz) for sz, nk in pairs for i in range(nk)]
        return spark.createDataFrame(rows, "k string, count long")

    # uniform: 1000 keys × size 5 → fanout 10k ≪ 1M floor → exact
    assert _auto_cap(counts([(5, 1000)])) is None
    # one 5000-member hot key over a small tail: fanout 12.5M over
    # postings 5200 → cap at 4999 = drops ONLY the hot key
    assert _auto_cap(counts([(5000, 1), (2, 100)])) == 4999
    # every key equally hot: the only cap that bounds the 1.5B fanout
    # drops them all — still sz-1 (the largest), caller opted in
    assert _auto_cap(counts([(1000, 3000)])) == 999
    # two-tier hot mass: cap lands between the tiers (drops the 10k
    # keys, keeps the 500s whose fanout fits the budget)
    assert _auto_cap(counts([(10_000, 20), (500, 50), (3, 1000)])) == 9999
    assert _auto_cap(counts([])) is None  # empty corpus


def test_caps_auto_mode(spark):
    """df_cap="auto" / bucket_cap="auto" at sub-floor corpus size: the
    1M-pair absolute floor means NO cap engages, so output is
    bit-identical to the exact path even on a boilerplate-skew corpus —
    the no-false-positive half of the contract (selection logic is
    unit-tested above; at-scale engagement is demonstrated by
    tools/skew_proof.py on the 50k-doc boilerplate corpus)."""
    import pandas as pd

    from juliadb_jl_spark.functions import dedup as DD
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} tail{i} a{i} b{i} c{i} d{i} e{i} f{i} g{i} "
                f"h{i} j{i}") for i in range(300)]
    rows += [(1000, f"{boiler} same same same same same same same same "
                    "same one"),
             (1001, f"{boiler} same same same same same same same same "
                    "same two")]
    skewed = spark.createDataFrame(rows, "doc_id long, text string")
    key = ["id_a", "id_b"]
    exact_j = DD.ngram_jaccard_pairs(skewed, "doc_id",
                                     unique_lift=False).toPandas()
    auto_j = DD.ngram_jaccard_pairs(skewed, "doc_id", df_cap="auto",
                                    unique_lift=False).toPandas()
    pd.testing.assert_frame_equal(auto_j.sort_values(key, ignore_index=True),
                                  exact_j.sort_values(key, ignore_index=True))
    assert (1000, 1001) in set(map(tuple, auto_j[key].values))
    mkw = dict(threshold=0.5, verify=False, unique_lift=False)
    exact_m = DD.minhash_lsh_pairs(skewed, "doc_id", **mkw).toPandas()
    auto_m = DD.minhash_lsh_pairs(skewed, "doc_id", bucket_cap="auto",
                                  **mkw).toPandas()
    pd.testing.assert_frame_equal(auto_m.sort_values(key, ignore_index=True),
                                  exact_m.sort_values(key, ignore_index=True))


def test_star_intra_component_equivalence(spark):
    """star_intra emits a sparse edge set whose connected components are
    EXACTLY those of the all-pairs output (rep→member stars keep members
    reachable; rep-level pairs keep clusters linked) — the scale path
    for cluster-resolution consumers (a c-clique contributes c-1 edges
    instead of c(c-1)/2)."""
    import pandas as pd

    from juliadb_jl_spark.functions import dedup as DD
    texts = ["the quick brown fox jumps over the lazy dog today",
             "the quick brown fox jumps over the lazy cat today",
             "completely different text about spark query engines here",
             "another unrelated passage on distributed systems design"]
    rows = [(i * 10 + c, t) for i, t in enumerate(texts) for c in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=0.3)
    star = DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=0.3,
                                  star_intra=True)
    n_full, n_star = full.count(), star.count()
    assert n_star < n_full  # sparse: 4-cliques contribute 3 edges, not 6
    cf = DD.connected_components(full).toPandas() \
        .sort_values("node", ignore_index=True)
    cs = DD.connected_components(star).toPandas() \
        .sort_values("node", ignore_index=True)
    pd.testing.assert_frame_equal(cf, cs)
    # doc 0x and 1x merge (near-dup reps), 2x and 3x stay separate
    assert cs.set_index("node")["component"][0] == \
        cs.set_index("node")["component"][11]


def test_jaccard_unique_lift_noop_on_unique_corpus(spark):
    """No exact dups → the lift detects it and falls through (same
    result, no behavior change on the common path)."""
    from juliadb_jl_spark.functions import dedup as DD
    rows = [(i, f"word{i} alpha beta gamma delta epsilon zeta {i}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = DD.ngram_jaccard_pairs(df, "doc_id", threshold=0.2,
                               unique_lift=True).toPandas()
    b = DD.ngram_jaccard_pairs(df, "doc_id", threshold=0.2,
                               unique_lift=False).toPandas()
    key = ["id_a", "id_b"]
    import pandas as pd
    pd.testing.assert_frame_equal(a.sort_values(key, ignore_index=True),
                                  b.sort_values(key, ignore_index=True))


def test_novelty_scores_golden(spark):
    """Hand-computable corpus: doc 1 and 2 share their full 5-gram; doc
    3 is unique; doc 4 is too short to have any 5-gram."""
    rows = [(1, "a b c d e"), (2, "a b c d e"),
            (3, "v w x y z"), (4, "too short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           CU.novelty_scores(df, "doc_id", n=5).collect()}
    assert (got[1]["n_grams"], got[1]["n_shared"], got[1]["novelty"]) == (1, 1, 0.0)
    assert (got[2]["n_grams"], got[2]["n_shared"], got[2]["novelty"]) == (1, 1, 0.0)
    assert (got[3]["n_grams"], got[3]["n_shared"], got[3]["novelty"]) == (1, 0, 1.0)
    assert (got[4]["n_grams"], got[4]["n_shared"], got[4]["novelty"]) == (0, 0, 1.0)


def novelty_scores_exact(df, id_col="doc_id", text_col="text", n=5):
    """String-keyed reference for `novelty_scores`: the same plan shape
    keyed on the gram TEXT (arrow_shingles) instead of the 128-bit
    hashed key — the differential reference for the hashed contract."""
    from juliadb_jl_spark.functions.text import arrow_shingles
    arr = F.array_distinct(arrow_shingles(F.col(text_col), n))
    grams = df.select(F.col(id_col), F.explode(arr).alias("__g"))
    per_doc = df.select(F.col(id_col),
                        F.size(arr).cast("long").alias("n_grams"))
    uniq = (grams.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"),
                 F.min(id_col).alias("__owner"))
            .filter(F.col("__df") == 1)
            .groupBy(F.col("__owner").alias(id_col))
            .agg(F.count(F.lit(1)).alias("__nu")))
    return (per_doc.join(uniq, id_col, "left")
            .select(id_col, "n_grams",
                    (F.col("n_grams") - F.coalesce(F.col("__nu"), F.lit(0)))
                    .alias("n_shared"))
            .withColumn("novelty",
                        F.when(F.col("n_grams") > 0,
                               1 - F.col("n_shared") / F.col("n_grams"))
                        .otherwise(F.lit(1.0))))


def test_novelty_scores_hashed_equals_exact(spark, tables):
    """The hashed gram keys agree with the string-keyed reference on
    real data (ADVICE r6)."""
    docs = tables["documents"].df
    def key(rows):
        return sorted((r["doc_id"], r["n_grams"], r["n_shared"],
                       round(r["novelty"], 9)) for r in rows)
    assert key(CU.novelty_scores(docs, "doc_id", n=5).collect()) == \
        key(novelty_scores_exact(docs, "doc_id", n=5).collect())


# ---------------------------------------------------------------------------
# Paragraph-level dedup
# ---------------------------------------------------------------------------

_PARA_DOCS = [
    (1, "alpha beta\n\ncommon block\n\ngamma"),
    (2, "common block\n\ndelta"),
    (3, "common block"),
    (4, ""),
    (5, "alpha beta\n\nunique five"),
]


def test_paragraph_dedup_golden(spark):
    df = spark.createDataFrame(_PARA_DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_dedup"])
           for r in CU.paragraph_dedup(df).collect()}
    assert got == {
        1: (3, 3, "alpha beta\n\ncommon block\n\ngamma"),  # first wins all
        2: (2, 1, "delta"),
        3: (1, 0, ""),            # fully deduped doc still present
        4: (0, 0, ""),            # empty doc still present
        5: (2, 1, "unique five"),
    }


def test_paragraph_dedup_identity_on_unique_corpus(spark):
    df = spark.createDataFrame(
        [(1, "one two\n\nthree four"), (2, "five six")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in CU.paragraph_dedup(df).collect()}
    for doc_id, text in [(1, "one two\n\nthree four"), (2, "five six")]:
        assert got[doc_id]["text_dedup"] == text
        assert got[doc_id]["n_kept"] == got[doc_id]["n_paras"]


def test_boilerplate_paragraphs_golden(spark):
    df = spark.createDataFrame(_PARA_DOCS, ["doc_id", "text"])
    got = {r["para"]: (r["n_docs"], r["n_occ"])
           for r in CU.boilerplate_paragraphs(df, min_docs=2).collect()}
    assert got == {"common block": (3, 3), "alpha beta": (2, 2)}
    # raising the bar prunes the 2-doc paragraph
    got3 = {r["para"] for r in
            CU.boilerplate_paragraphs(df, min_docs=3).collect()}
    assert got3 == {"common block"}


def test_drop_boilerplate_golden(spark):
    df = spark.createDataFrame(_PARA_DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_clean"])
           for r in CU.drop_boilerplate(df, min_docs=2).collect()}
    assert got == {
        1: (3, 1, "gamma"),       # no canonical copy survives
        2: (2, 1, "delta"),
        3: (1, 0, ""),
        4: (0, 0, ""),
        5: (2, 1, "unique five"),
    }


def test_paragraph_dedup_partition_invariant(spark):
    df = spark.createDataFrame(_PARA_DOCS, ["doc_id", "text"])
    ref = None
    for nparts in (1, 2, 5):
        got = sorted(
            (r["doc_id"], r["n_paras"], r["n_kept"], r["text_dedup"])
            for r in CU.paragraph_dedup(df.repartition(nparts)).collect())
        if ref is None:
            ref = got
        else:
            assert got == ref


def test_paragraph_dedup_keeper_is_global_min(spark):
    """The keeper is min (doc_id, pos) across the WHOLE corpus — a
    paragraph first seen late in a low-id doc beats an early position
    in a high-id doc."""
    df = spark.createDataFrame(
        [(10, "x\n\nshared"), (20, "shared\n\ny")], ["doc_id", "text"])
    got = {r["doc_id"]: r["text_dedup"]
           for r in CU.paragraph_dedup(df).collect()}
    assert got == {10: "x\n\nshared", 20: "y"}


def test_corpus_report_golden(spark):
    import pandas as pd
    rows = [(0, "a b c"), (1, "a b c"), (2, "d e f g h i j k l m"),
            (3, ""), (4, "x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = CU.corpus_report(df).collect()[0]
    assert r["n_docs"] == 5 and r["total_tokens"] == 3 + 3 + 10 + 0 + 1
    assert r["distinct_texts"] == 4  # docs 0 and 1 share a fingerprint
    assert abs(r["dup_ratio"] - 0.2) < 1e-12
    # exact linear-interpolated percentiles over [3,3,10,0,1]
    import numpy as np
    nts = [3, 3, 10, 0, 1]
    assert abs(r["p50_tokens"] - np.percentile(nts, 50)) < 1e-12
    assert abs(r["p95_tokens"] - np.percentile(nts, 95)) < 1e-12
    assert abs(r["mean_tokens"] - np.mean(nts)) < 1e-12


def test_corpus_breakdown_shares_sum_to_one(spark):
    rows = [(0, "a b", "web"), (1, "c", "web"), (2, "d e f", "books")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["key"]: r for r in CU.corpus_breakdown(df, "source").collect()}
    assert out["web"]["n_docs"] == 2 and out["books"]["n_docs"] == 1
    assert abs(out["web"]["token_share"] - 3 / 6) < 1e-12
    assert abs(sum(r["doc_share"] for r in out.values()) - 1.0) < 1e-12


def test_line_granularity_dedup_golden(spark):
    rows = [(0, "alpha beta\nshared line\ngamma"),
            (1, "shared line\ndelta"),
            (2, "alpha beta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           CU.paragraph_dedup(df, granularity="line").collect()}
    # keep-first: doc 0 keeps everything; doc 1 loses 'shared line';
    # doc 2 loses 'alpha beta' (first seen in doc 0)
    assert out[0]["text_dedup"] == "alpha beta\nshared line\ngamma"
    assert out[1]["text_dedup"] == "delta" and out[1]["n_kept"] == 1
    assert out[2]["text_dedup"] == "" and out[2]["n_kept"] == 0
    # paragraph granularity sees each full text as ONE unit -> no dups
    pout = {r["doc_id"]: r for r in CU.paragraph_dedup(df).collect()}
    assert all(pout[i]["n_kept"] == pout[i]["n_paras"] for i in range(3))


# ---------------------------------------------------------------------------
# Release engineering: corpus_diff / curation_funnel / leakage
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def snapshots(spark):
    old = spark.createDataFrame(
        [(0, "alpha"), (1, "bravo"), (2, "charlie"), (3, "delta")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, "bravo"), (2, "charlie EDITED"), (3, "delta"), (4, "echo")],
        ["doc_id", "text"])
    return old, new


def test_corpus_diff_golden(snapshots):
    old, new = snapshots
    out = {r["doc_id"]: r["status"]
           for r in CU.corpus_diff(old, new).collect()}
    assert out == {0: "removed", 1: "unchanged", 2: "changed",
                   3: "unchanged", 4: "added"}


def test_corpus_diff_report_counts(snapshots):
    old, new = snapshots
    r = CU.corpus_diff_report(old, new).collect()[0]
    assert (r["n_added"], r["n_removed"], r["n_changed"],
            r["n_unchanged"]) == (1, 1, 1, 2)
    assert r["n_old"] == 4 and r["n_new"] == 4


def test_corpus_diff_text_never_shuffles(snapshots):
    # Only (id, fp) projections may cross the exchange: the full plan
    # must not carry the raw text column through any Exchange input.
    old, new = snapshots
    plan = CU.corpus_diff(old, new)._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_curation_funnel_golden(spark):
    df = spark.createDataFrame(
        [(0, "good doc", 10), (1, "short", 2), (2, "bad lang", 10),
         (3, None, 10), (4, "also good", 10)],
        ["doc_id", "text", "n"])
    stages = [("min_n", F.col("n") >= 5),
              ("has_text", F.col("text").isNotNull())]
    rows = {r["stage"]: r for r in
            CU.curation_funnel(df, stages, token_col=F.col("n"))
            .collect()}
    assert rows["ingest"]["docs_in"] == 5
    assert rows["ingest"]["tokens_kept"] == 42
    # stage 1 drops doc 1 (n=2)
    assert (rows["min_n"]["docs_in"], rows["min_n"]["docs_kept"],
            rows["min_n"]["docs_dropped"]) == (5, 4, 1)
    assert rows["min_n"]["tokens_kept"] == 40
    # stage 2 is cumulative: of the 4 survivors, doc 3 has NULL text
    assert (rows["has_text"]["docs_in"], rows["has_text"]["docs_kept"],
            rows["has_text"]["docs_dropped"]) == (4, 3, 1)
    assert rows["has_text"]["tokens_kept"] == 30
    # apply_funnel keeps exactly the final survivors
    kept = {r["doc_id"] for r in CU.apply_funnel(df, stages).collect()}
    assert kept == {0, 2, 4}


def test_curation_funnel_null_predicate_drops(spark):
    # A NULL predicate value must count as a drop, not propagate NULL
    # into the conjunction (SQL three-valued logic would).
    df = spark.createDataFrame([(0, None), (1, 5)], ["id", "v"])
    rows = CU.curation_funnel(df, [("v_pos", F.col("v") > 0)]).collect()
    s = {r["stage"]: r for r in rows}
    assert s["v_pos"]["docs_kept"] == 1 and s["v_pos"]["docs_dropped"] == 1


def test_curation_funnel_single_job_single_agg(spark):
    # The whole funnel must ride ONE aggregation pass over the corpus:
    # exactly 2 HashAggregate nodes (partial + final) in the plan.
    df = spark.createDataFrame([(i, i % 7) for i in range(100)],
                               ["id", "v"])
    stages = [("a", F.col("v") > 0), ("b", F.col("v") > 2),
              ("c", F.col("v") > 4)]
    plan = CU.curation_funnel(df, stages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") <= 2


def test_split_leakage_brute_force(spark):
    rows = [
        (0, "train", "one two three four five six seven"),
        (1, "train", "completely different training content here now"),
        (2, "eval", "one two three four five six seven"),   # full dup
        (3, "eval", "nothing in common with any training doc at all"),
        (4, "eval", "xx"),                                   # < n tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "split", "text"])
    out = {r["doc_id"]: r for r in CU.split_leakage(df, n=5).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["contamination"] == pytest.approx(1.0)
    assert out[3]["n_hits"] == 0 and out[3]["contamination"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["contamination"] == 0.0


def test_split_leakage_memo_entry_complete(spark):
    """Every sizing memo entry is a complete (n_eval, n_train,
    eval_chars) measurement, and a second call on the same frame leaves
    it unchanged."""
    rows = [(i, "train" if i % 4 else "eval",
             " ".join(f"w{(i * 7 + j) % 50}" for j in range(30)))
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "split", "text"])
    key = (df.semanticHash(), "split", "train", "text")
    CU._SPLIT_SIZE_MEMO.pop(key, None)
    CU.split_leakage(df, n=5).collect()
    first = CU._SPLIT_SIZE_MEMO[key]
    CU.split_leakage(df, n=5).collect()
    assert CU._SPLIT_SIZE_MEMO[key] == first
    assert first[:2] == (10, 30) and first[2] > 0


def _leak_key(out):
    return sorted((r["doc_id"], r["split"], r["n_grams"], r["n_hits"],
                   round(r["contamination"], 9)) for r in out.collect())


def _tier_outputs(df, n, monkeypatch):
    """split_leakage's output on every tier, plus the fused tier forced
    to overflow its eval-gram cap and fall back to shuffle."""
    out = {"auto": _leak_key(CU.split_leakage(df, n=n))}
    for tier in ("fused", "broadcast", "shuffle"):
        out[tier] = _leak_key(CU._split_leakage(df, "doc_id", "text",
                                                "split", "train", n, tier))
    with monkeypatch.context() as m:
        m.setattr(CU, "_FUSED_MAX_EVAL_GRAMS", 10)
        out["fused_overflow"] = _leak_key(CU._split_leakage(
            df, "doc_id", "text", "split", "train", n, "fused"))
    return out


def test_split_leakage_prune_modes_identical(spark, tables, monkeypatch):
    """Every tier — fused, hashed broadcast, shuffle, and fused overflow
    falling back to shuffle — gives the same report on a
    train/valid/test split of the documents table."""
    docs = tables["documents"].df.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 10 < 8, "train")
        .otherwise(F.when(F.col("doc_id") % 2 == 0, "valid")
                   .otherwise("test")).alias("split"))
    out = _tier_outputs(docs, 5, monkeypatch)
    assert out["shuffle"] and any(r[3] for r in out["shuffle"])
    for name, got in out.items():
        assert got == out["shuffle"], name


def test_split_leakage_repeated_id_agrees_across_tiers(spark, monkeypatch):
    """A repeated eval id is reported per (id, split), each row adding
    its own distinct grams — on every tier, the fused one included."""
    rows = [(1, "train", "a b c d e f g"),
            (1, "train", "p q r s t u"),
            (2, "eval", "a b c d e f g"),
            (2, "eval", "a b c d e x y z"),
            (3, "valid", "k l m n o j"),
            (3, "test", "p q r s t u")]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    want = [(2, "eval", 7, 4, round(4 / 7, 9)), (3, "test", 2, 2, 1.0),
            (3, "valid", 2, 0, 0.0)]
    for name, got in _tier_outputs(df, 5, monkeypatch).items():
        assert got == want, name


def test_split_leakage_broadcast_tier_plan(spark, tables):
    """The broadcast tier's executed plan joins only on the two long
    hash lanes — no string-typed join key — and both joins (train-key
    prune, scoring) are broadcast hash joins."""
    from tests.test_dsir import _plan_nodes
    docs = tables["documents"].df.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 5 == 0, "eval").otherwise("train")
        .alias("split"))
    out = CU._split_leakage(docs, "doc_id", "text", "split", "train", 5,
                            "broadcast")
    out.collect()
    joins = [nd for nd in _plan_nodes(
        spark, out._jdf.queryExecution().executedPlan())
        if "Join" in nd.nodeName()]
    assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"] * 2, \
        [j.nodeName() for j in joins]
    for j in joins:
        for side in (j.leftKeys(), j.rightKeys()):
            ks = [side.apply(i) for i in range(side.size())]
            assert sorted(k.references().head().name() for k in ks) == \
                ["__h1", "__h2"]
            assert {k.dataType().simpleString() for k in ks} == {"bigint"}


def test_leakage_attribution_golden(spark):
    train = spark.createDataFrame(
        [(10, "a b c d e f g h"),           # shares 4 5-grams with eval 0
         (11, "a b c d e zz"),              # shares 1
         (12, "totally unrelated training doc text here")],
        ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "no overlap at all here friend")],
        ["doc_id", "text"])
    out = {r["eval_id"]: r for r in
           CU.leakage_attribution(train, ev, n=5).collect()}
    assert set(out) == {0}
    assert out[0]["train_id"] == 10 and out[0]["shared_grams"] == 4


def test_leakage_attribution_tie_breaks_min_train_id(spark):
    train = spark.createDataFrame(
        [(7, "a b c d e"), (3, "a b c d e")], ["doc_id", "text"])
    ev = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    out = CU.leakage_attribution(train, ev, n=5).collect()
    assert out[0]["train_id"] == 3 and out[0]["shared_grams"] == 1


def test_leakage_attribution_string_ids(spark):
    # String doc ids (URLs/hashes) must survive the tie-break: the old
    # -train_id negation cast them to double -> NULL train_id for every
    # row. Max-overlap election and min-id tie-break both on strings.
    train = spark.createDataFrame(
        [("url/b", "a b c d e f g h"),      # 4 shared 5-grams
         ("url/a", "a b c d e zz"),         # 1 shared
         ("url/z", "a b c d e zz")],        # 1 shared (tie with url/a)
        ["doc_id", "text"])
    ev = spark.createDataFrame(
        [("e0", "a b c d e f g h"), ("e1", "a b c d e zz")],
        ["doc_id", "text"])
    out = {r["eval_id"]: r for r in
           CU.leakage_attribution(train, ev, n=5).collect()}
    assert out["e0"]["train_id"] == "url/b"
    assert out["e0"]["shared_grams"] == 4
    # e1 shares "a b c d e" with all three and the zz gram with a and z:
    # max overlap 2, tie between url/a and url/z -> min string id wins
    assert out["e1"]["train_id"] == "url/a"
    assert out["e1"]["shared_grams"] == 2


def test_leakage_attribution_against_string_ids(spark):
    from juliadb_jl_spark.functions.curation import (
        attribution_index, leakage_attribution_against)
    train = spark.createDataFrame(
        [("url/b", "a b c d e f g h"), ("url/a", "a b c d e zz")],
        ["doc_id", "text"])
    ev = spark.createDataFrame([("e0", "a b c d e f g h")],
                               ["doc_id", "text"])
    idx = attribution_index(train, n=5)
    out = leakage_attribution_against(ev, idx, n=5).collect()
    assert out[0]["train_id"] == "url/b" and out[0]["shared_grams"] == 4


def test_leakage_attribution_df_cap_excludes_hot_grams(spark):
    # A gram present in > df_cap train docs carries no attribution
    # signal and must be excluded from the pair count.
    train = spark.createDataFrame(
        [(i, "hot hot hot hot hot") for i in range(5)]
        + [(99, "rare unique gram only here x")], ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(0, "hot hot hot hot hot rare unique gram only here x")],
        ["doc_id", "text"])
    out = CU.leakage_attribution(train, ev, n=5, df_cap=3).collect()
    # the 'hot...' gram (df=5 > 3) is dropped; only doc 99's grams count
    assert len(out) == 1
    assert out[0]["train_id"] == 99


def test_dedup_rate_curve_golden(spark):
    from juliadb_jl_spark.functions.dedup import dedup_rate_curve
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.6), (4, 5, 0.3)],
        ["id_a", "id_b", "jaccard"])
    rows = {r["threshold"]: r for r in
            dedup_rate_curve(pairs, [0.2, 0.5, 0.8]).collect()}
    assert (rows[0.2]["n_pairs"], rows[0.2]["n_docs_flagged"]) == (3, 5)
    # t=0.5 keeps (1,2) and (2,3): docs {1,2,3}
    assert (rows[0.5]["n_pairs"], rows[0.5]["n_docs_flagged"]) == (2, 3)
    # t=0.8 keeps (1,2): docs {1,2}
    assert (rows[0.8]["n_pairs"], rows[0.8]["n_docs_flagged"]) == (1, 2)


def test_dedup_rate_curve_empty_pairs(spark):
    from juliadb_jl_spark.functions.dedup import dedup_rate_curve
    pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    rows = dedup_rate_curve(pairs, [0.5]).collect()
    assert len(rows) == 1
    assert (rows[0]["n_pairs"], rows[0]["n_docs_flagged"]) == (0, 0)


def test_dedup_rate_curve_doc_counted_once(spark):
    from juliadb_jl_spark.functions.dedup import dedup_rate_curve
    # doc 1 appears in two qualifying pairs — flagged once, not twice
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.9)], ["id_a", "id_b", "jaccard"])
    r = dedup_rate_curve(pairs, [0.5]).collect()[0]
    assert (r["n_pairs"], r["n_docs_flagged"]) == (2, 3)


def test_corpus_diff_stream_static(spark, tmp_path):
    """Ingest-time changelog: the NEW snapshot arrives as a stream and
    diffs against the static previous release. Full-outer joins are not
    streamable, so the streaming twin is the new-side half of the diff
    (added/changed/unchanged via a stream-static LEFT join — `removed`
    needs the old side's full pass and stays a batch op); its statuses
    must match the batch corpus_diff restricted to new-side ids."""
    import pandas as pd
    from juliadb_jl_spark.streaming.aggregate import (run_to_memory,
                                                      stream_from_parquet)
    old = spark.createDataFrame(
        [(0, "alpha"), (1, "bravo"), (2, "charlie")], ["doc_id", "text"])
    new_pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                            "text": ["bravo", "charlie EDITED", "echo"]})
    src = str(tmp_path / "new_snapshot")
    spark.createDataFrame(new_pdf).write.parquet(src)

    idx = old.select("doc_id",
                     F.md5(F.coalesce("text", F.lit(""))).alias("__fp_old"))

    def new_side_diff(new_df):
        j = new_df.select(
            "doc_id", F.md5(F.coalesce("text", F.lit("")))
            .alias("__fp_new")).join(idx, "doc_id", "left")
        status = (F.when(F.col("__fp_old").isNull(), F.lit("added"))
                  .when(F.col("__fp_old") == F.col("__fp_new"),
                        F.lit("unchanged")).otherwise(F.lit("changed")))
        return j.select("doc_id", status.alias("status"))

    batch = {r["doc_id"]: r["status"] for r in
             CU.corpus_diff(old, spark.read.parquet(src)).collect()
             if r["status"] != "removed"}
    streamed = run_to_memory(
        new_side_diff(stream_from_parquet(spark, src)),
        "diff_stream", mode="append").toPandas()
    got = dict(zip(streamed["doc_id"], streamed["status"]))
    assert got == batch == {1: "unchanged", 2: "changed", 3: "added"}


def test_schema_diff_golden(spark):
    old = spark.createDataFrame([], "id long, text string, score double")
    new = spark.createDataFrame([], "id long, text string, lang string, "
                                    "score float")
    out = {r["column"]: r for r in CU.schema_diff(old, new).collect()}
    assert out["id"]["status"] == "unchanged"
    assert out["lang"]["status"] == "added" and out["lang"]["old_type"] is None
    assert out["score"]["status"] == "type_changed"
    assert (out["score"]["old_type"], out["score"]["new_type"]) == \
        ("double", "float")
    # nothing removed here; add one
    out2 = {r["column"]: r["status"]
            for r in CU.schema_diff(new, old).collect()}
    assert out2["lang"] == "removed"


def test_curation_funnel_by_group(spark):
    df = spark.createDataFrame(
        [(0, "a", 10), (1, "a", 2), (2, "b", 10), (3, "b", 10)],
        ["doc_id", "src", "n"])
    stages = [("min_n", F.col("n") >= 5)]
    rows = {(r["src"], r["stage"]): r for r in
            CU.curation_funnel(df, stages, token_col=F.col("n"),
                               by="src").collect()}
    assert rows[("a", "ingest")]["docs_in"] == 2
    assert (rows[("a", "min_n")]["docs_kept"],
            rows[("a", "min_n")]["docs_dropped"]) == (1, 1)
    assert rows[("b", "min_n")]["docs_kept"] == 2
    assert rows[("b", "min_n")]["tokens_kept"] == 20
    # grouped funnel stays a single aggregation pass
    plan = CU.curation_funnel(df, stages, by="src") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2


def test_fuzzy_link_and_dedup_records(spark):
    from juliadb_jl_spark.functions.dedup import (dedup_fuzzy_records,
                                                  fuzzy_link_pairs)
    rows = [(0, "red widget"), (1, "red widgets"),   # 1 edit apart
            (2, "red bolt"),                          # same block, far
            (3, "blue gear"), (4, "blue gears"),      # 1 edit apart
            (5, "green gizmo")]                       # singleton
    df = spark.createDataFrame(rows, ["id", "name"])
    pairs = {(r["id_a"], r["id_b"]): r["distance"]
             for r in fuzzy_link_pairs(df, "id", "name",
                                       max_distance=2).collect()}
    assert pairs == {(0, 1): 1, (3, 4): 1}
    kept = {r["id"] for r in
            dedup_fuzzy_records(df, "id", "name").collect()}
    assert kept == {0, 2, 3, 5}  # min-id keeper per cluster


def test_fuzzy_link_block_cap_drops_degenerate_block(spark):
    from juliadb_jl_spark.functions.dedup import fuzzy_link_pairs
    rows = [(i, "hot item") for i in range(30)] + [(100, "cold brew"),
                                                   (101, "cold brew x")]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_link_pairs(df, "id", "name", max_distance=2,
                           block_cap=10).collect()
    # the 30-member 'hot' block exceeds the cap and is dropped entirely;
    # the small 'cold' block still links
    assert {(r["id_a"], r["id_b"]) for r in out} == {(100, 101)}


def test_fuzzy_link_custom_block_expr(spark):
    from juliadb_jl_spark.functions.dedup import fuzzy_link_pairs
    rows = [(0, "smith john"), (1, "smyth john")]
    df = spark.createDataFrame(rows, ["id", "name"])
    # first-token blocking separates smith/smyth; soundex reunites them
    assert fuzzy_link_pairs(df, "id", "name").count() == 0
    got = fuzzy_link_pairs(
        df, "id", "name",
        block_expr=F.soundex(F.substring_index("name", " ", 1)),
        max_distance=2).collect()
    assert [(r["id_a"], r["id_b"], r["distance"]) for r in got] == \
        [(0, 1, 1)]


def test_leakage_attribution_against_equals_oneshot(spark):
    from juliadb_jl_spark.functions.curation import (
        attribution_index, leakage_attribution,
        leakage_attribution_against)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = d.filter(F.col("doc_id") % 11 == 0)
    tr = d.filter(F.col("doc_id") % 11 != 0)
    one = {(r["eval_id"], r["train_id"], r["shared_grams"])
           for r in leakage_attribution(tr, ev, n=5).collect()}
    idx = attribution_index(tr, n=5)
    agn = {(r["eval_id"], r["train_id"], r["shared_grams"])
           for r in leakage_attribution_against(ev, idx, n=5).collect()}
    assert one == agn and len(one) > 0


def test_attribution_bucketed_index_no_exchange(spark, tmp_path):
    """With the index persisted bucketed on the gram, the audit plan
    must carry NO exchange on the index lineage — only the eval side
    shuffles."""
    from juliadb_jl_spark.functions.curation import (
        attribution_index, leakage_attribution_against)
    from juliadb_jl_spark.functions.incremental import (load_index,
                                                        save_index_bucketed)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tr = d.filter(F.col("doc_id") % 11 != 0)
    ev = d.filter(F.col("doc_id") % 11 == 0)
    name = "attr_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    save_index_bucketed(attribution_index(tr, n=5), name,
                        kind="attribution", buckets=8)
    idx = load_index(name, spark)
    out = leakage_attribution_against(ev, idx, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # index scan feeds the window through zero Exchange nodes: walk the
    # plan text — every hash exchange must be on gram-of-eval lineage
    # (the distinct + final joins), and the count of exchanges must not
    # exceed what the eval side needs
    import re
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # unbucketed baseline for comparison
    idx2 = attribution_index(tr, n=5)
    plan2 = leakage_attribution_against(ev, idx2, n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    n_ex2 = len(re.findall(r"Exchange hashpartitioning", plan2))
    assert n_ex < n_ex2  # bucketing removed the index-side exchange


def test_release_manifest_roundtrip(spark, tmp_path):
    from juliadb_jl_spark.functions.curation import (read_release_manifest,
                                                     write_release_manifest)
    prev = spark.createDataFrame(
        [(0, "alpha beta", "web"), (1, "gamma delta", "web")],
        ["doc_id", "text", "source"])
    cur = spark.createDataFrame(
        [(1, "gamma delta", "web"), (2, "epsilon zeta", "books")],
        ["doc_id", "text", "source"])
    stages = [("nonempty", F.length("text") > 0)]
    path = str(tmp_path / "release")
    write_release_manifest(cur, path, prev=prev, stages=stages,
                           breakdown_key="source")
    m = read_release_manifest(spark, path)
    assert set(m) == {"report", "breakdown", "funnel", "changelog",
                      "schema_changes"}
    assert m["report"].collect()[0]["n_docs"] == 2
    ch = m["changelog"].collect()[0]
    assert (ch["n_added"], ch["n_removed"], ch["n_unchanged"]) == (1, 1, 1)
    assert {r["stage"] for r in m["funnel"].collect()} == \
        {"ingest", "nonempty"}
    assert abs(sum(r["doc_share"]
                   for r in m["breakdown"].collect()) - 1.0) < 1e-12
    # prev omitted -> changelog/schema_changes absent, others present
    write_release_manifest(cur, str(tmp_path / "r2"), stages=stages)
    assert set(read_release_manifest(spark, str(tmp_path / "r2"))) == \
        {"report", "funnel"}


def test_paragraph_counts_match_explode_on_edges(spark):
    """r9: n_paras is now size(splitter(text)) on the un-exploded corpus
    (no second explode pass).  Pin it to the explode-based count on
    whitespace/NULL/blank-separator edge cases, both granularities."""
    rows = [(1, "a b\n\n  \n\nc"),      # blank middle unit is dropped
            (2, ""), (3, None),
            (4, "  \n \n  "),           # whitespace-only text
            (5, "x\ny\n\nz"),           # \n inside a paragraph
            (6, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for gran in ("paragraph", "line"):
        exploded = CU.exploded_paragraphs(df, "doc_id", "text", gran)
        want = {r["doc_id"]: r["n"] for r in
                exploded.groupBy("doc_id")
                .agg(F.count("para").alias("n")).collect()}
        got = {r["doc_id"]: r["n_paras"] for r in
               CU.paragraph_dedup(df, granularity=gran).collect()}
        assert got == want, (gran, got, want)


def _jaccard_reference(spark, df, t, df_cap=None):
    """Brute-force exact Jaccard: collect the shingle sets, drop
    shingles held by more than `df_cap` docs ("auto" sizes the cap with
    the operator's own policy from the driver-side df counts), then
    score every pair of docs on the driver."""
    from collections import Counter
    from itertools import combinations
    from juliadb_jl_spark.functions import dedup as DD
    sets = {r["id"]: set(r["shset"])
            for r in DD._shingle_sets(df, "doc_id", "text", 3).collect()}
    dfc = Counter(s for v in sets.values() for s in v)
    if df_cap == "auto":
        df_cap = DD._auto_cap(spark.createDataFrame(
            [(c,) for c in dfc.values()], "count long"))
    if df_cap:
        sets = {i: {s for s in v if dfc[s] <= df_cap}
                for i, v in sets.items()}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and inter / len(sets[a] | sets[b]) >= t:
            out[(a, b)] = inter / len(sets[a] | sets[b])
    return out


def test_jaccard_matches_brute_force(spark):
    """The inverted-index count join must return exactly the pairs (and
    values) of a driver-side all-pairs set Jaccard, on a corpus with
    near-dups, exact dups, disjoint docs and shingle-free docs — at
    three thresholds, and under an explicit and an auto df cap."""
    from juliadb_jl_spark.functions import dedup as DD
    import random
    rng = random.Random(11)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(4, 24)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
    rows += [(100, rows[0][1]), (101, rows[0][1] + " extra tail words"),
             (102, "xq yq zq unique island doc"), (103, "shrt")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # t=0.9 stresses the boundary where a count undercount would flip a
    # pair below threshold
    cases = [(0.2, None), (0.5, None), (0.9, None),
             (0.5, 50), (0.5, 2), (0.5, "auto")]
    seen = {}
    for t, cap in cases:
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               DD.ngram_jaccard_pairs(df, "doc_id", k=3, threshold=t,
                                      df_cap=cap).collect()}
        want = seen[t, cap] = _jaccard_reference(spark, df, t, cap)
        assert got.keys() == want.keys(), (t, cap)
        for key, v in want.items():
            assert got[key] == pytest.approx(v, rel=1e-12), (t, cap, key)
    assert all(seen[t, None] for t in (0.2, 0.5, 0.9))
    # df_cap=50 drops nothing on 64 docs; df_cap=2 really drops shingles
    # (doc 0's text is held by docs 0, 100 and 101) and loses its pairs
    assert seen[0.5, 50] == seen[0.5, None]
    assert len(seen[0.5, 2]) < len(seen[0.5, None])
