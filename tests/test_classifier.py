"""Hashed-feature logistic regression: distributed training vs a local
pure-Python reference (same math, differential), separability, scoring
expression equivalence, chunk invariance.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import classifier as C


def _toy_rows():
    good = [f"clean prose sample number {i} with useful words" for i in range(30)]
    bad = [f"buy spam pills now deal {i} spam spam click" for i in range(30)]
    return ([(1.0, t) for t in good] + [(0.0, t) for t in bad])


@pytest.fixture(scope="module")
def toy_df(spark):
    return spark.createDataFrame(_toy_rows(), "label double, text string")


def test_train_separable_and_loss_decreases(spark, toy_df):
    model = C.train_logreg(toy_df, "label", dim=64, iters=25, lr=2.0)
    assert model["loss"][0] > model["loss"][-1]
    scored = toy_df.withColumn(
        "p", C.score_expr(F.col("text"), model["weights"], model["bias"]))
    acc = scored.select(
        F.avg(((F.col("p") > 0.5).cast("double") == F.col("label"))
              .cast("double")).alias("acc")).head()["acc"]
    assert acc >= 0.95


def test_train_matches_local_reference(spark, toy_df):
    dim, iters = 32, 4
    model = C.train_logreg(toy_df, "label", dim=dim, iters=iters, lr=1.0,
                           l2=0.01)
    rows = [(r["label"], r["f"]) for r in toy_df.select(
        "label", C.hashed_features(F.col("text"), dim=dim).alias("f"))
        .collect()]
    ref = C.local_reference_train(rows, dim, iters=iters, lr=1.0, l2=0.01)
    assert abs(model["bias"] - ref["bias"]) < 1e-9
    for a, b in zip(model["weights"], ref["weights"]):
        assert abs(a - b) < 1e-9
    for a, b in zip(model["loss"], ref["loss"]):
        assert abs(a - b) < 1e-9


@pytest.mark.parametrize("nparts", [2, 5])
def test_train_chunk_invariance(spark, toy_df, nparts):
    a = C.train_logreg(toy_df.coalesce(1), "label", dim=16, iters=3)
    b = C.train_logreg(toy_df.repartition(nparts), "label", dim=16, iters=3)
    for x, y in zip(a["weights"], b["weights"]):
        assert abs(x - y) < 1e-12


def test_score_expr_matches_python(spark):
    weights = [0.5, -1.0, 2.0, 0.0]
    bias = 0.25
    df = spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, None)], "id int, text string")
    out = {r["id"]: r["m"] for r in df.withColumn(
        "m", C.margin_expr(F.col("text"), weights, bias,
                           hash_family="portable")).collect()}

    def ph(w):
        h = 0
        for ch in w:
            h = (h * 31 + ord(ch)) % (2**31 - 1)
        return h

    feats = [ph("a") % 4, ph("b") % 4, ph("a") % 4]
    exp = bias + sum(weights[j] for j in feats) / 3
    assert abs(out[1] - exp) < 1e-12
    assert out[2] == bias and out[3] == bias


def test_empty_and_null_score_is_sigmoid_bias(spark):
    df = spark.createDataFrame([(1, None)], "id int, text string")
    p = df.withColumn("p", C.score_expr(F.col("text"), [1.0, 1.0], 2.0)) \
        .head()["p"]
    assert abs(p - 1.0 / (1.0 + math.exp(-2.0))) < 1e-12


def test_scoring_runs_on_streams(spark, tmp_path):
    """Scoring is a pure native expression — identical code runs under
    Structured Streaming (score-as-you-ingest)."""
    import pandas as pd
    from juliadb_jl_spark.streaming.aggregate import (run_to_memory,
                                                      stream_from_parquet)
    pdf = pd.DataFrame({"doc_id": range(15),
                        "text": [f"sample text {i}" for i in range(15)]})
    src = str(tmp_path / "clf_src")
    spark.createDataFrame(pdf).write.parquet(src)
    weights = [((j * 13 + 5) % 20 - 10) / 10.0 for j in range(32)]

    def score(df):
        return df.select("doc_id",
                         C.score_expr(F.col("text"), weights, 0.2)
                         .alias("p"))

    batch = score(spark.read.parquet(src)).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    streamed = run_to_memory(score(stream_from_parquet(spark, src)),
                             "clf_stream", mode="append").toPandas() \
        .sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(batch, streamed)


def test_hash_families_score_consistently(spark, toy_df):
    """Train+score must use one family end-to-end; both families learn
    the separable toy problem."""
    for fam in ["xxhash64", "portable"]:
        model = C.train_logreg(toy_df, "label", dim=64, iters=15, lr=2.0,
                               hash_family=fam)
        assert model["hash_family"] == fam
        acc = C.add_quality_score(toy_df, model).select(
            F.avg(((F.col("clf_score") > 0.5).cast("double")
                   == F.col("label")).cast("double")).alias("a")).head()["a"]
        assert acc >= 0.9, fam


def test_unknown_hash_family_rejected(spark, toy_df):
    """A family typo raises before any Spark job instead of silently
    scoring with the portable family."""
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup())
    col = F.col("text")
    for call in (lambda: C.hashed_features(col, 8, hash_family="xxhash"),
                 lambda: C.margin_expr(col, [0.0] * 8, 0.0,
                                       hash_family="xxhash"),
                 lambda: C.score_expr(col, [0.0] * 8, 0.0,
                                      hash_family="xxhash"),
                 lambda: C.train_logreg(toy_df, "label", dim=8, iters=1,
                                        hash_family="xxhash")):
        with pytest.raises(ValueError, match="hash_family"):
            call()
    assert len(sc.statusTracker().getJobIdsForGroup()) == before


def test_model_save_load_roundtrip(spark, toy_df, tmp_path):
    model = C.train_logreg(toy_df, "label", dim=16, iters=2,
                           hash_family="portable")
    path = str(tmp_path / "clf")
    C.model_save(spark, model, path)
    got = C.model_load(spark, path)
    assert got["weights"] == model["weights"]
    assert got["bias"] == model["bias"]
    assert got["hash_family"] == "portable"


def test_calibration_report_golden(spark):
    from juliadb_jl_spark.functions.classifier import calibration_report
    # scores: pos={0.9, 0.6}, neg={0.8, 0.1}
    df = spark.createDataFrame(
        [(0.9, True), (0.6, True), (0.8, False), (0.1, False)],
        ["q", "y"])
    rows = {r["threshold"]: r for r in
            calibration_report(df, "q", "y", [0.5, 0.7, 0.95]).collect()}
    r = rows[0.5]   # preds: 0.9,0.6,0.8 → tp=2 fp=1 fn=0
    assert (r["n_pred_pos"], r["tp"], r["fp"], r["fn"]) == (3, 2, 1, 0)
    assert r["precision"] == pytest.approx(2 / 3)
    assert r["recall"] == pytest.approx(1.0)
    assert r["f1"] == pytest.approx(2 * (2 / 3) / (5 / 3))
    r = rows[0.7]   # preds: 0.9,0.8 → tp=1 fp=1 fn=1
    assert (r["n_pred_pos"], r["tp"]) == (2, 1)
    assert r["precision"] == pytest.approx(0.5)
    assert r["recall"] == pytest.approx(0.5)
    r = rows[0.95]  # no predictions → all-zero rates, not NULL/NaN
    assert (r["n_pred_pos"], r["tp"]) == (0, 0)
    assert r["precision"] == 0.0 and r["f1"] == 0.0


def test_calibration_report_null_handling(spark):
    from juliadb_jl_spark.functions.classifier import calibration_report
    # NULL score and NULL label both count as negative, never poison sums
    df = spark.createDataFrame(
        [(None, True), (0.9, None), (0.9, True)], "q double, y boolean")
    r = calibration_report(df, "q", "y", [0.5]).collect()[0]
    assert (r["n_pred_pos"], r["tp"], r["fn"]) == (2, 1, 1)


def test_calibration_report_single_pass(spark):
    from juliadb_jl_spark.functions.classifier import calibration_report
    df = spark.createDataFrame([(0.5, True)], ["q", "y"])
    plan = calibration_report(df, "q", "y", [0.1, 0.5, 0.9]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2
