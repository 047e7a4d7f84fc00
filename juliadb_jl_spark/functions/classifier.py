"""Hashed-feature linear text classifier — a fastText-style quality
scorer trained and applied fully inside Spark, no ML library.

Features are a hashed bag of words: token → hash mod `dim`. Two hash
families, same split as MinHash/SimHash: xxhash64 (native, one call per
token — the 100-TB default) and 'portable' (the 31-bit char fold,
bit-identical in DuckDB, so scoring is fully oracle-checkable in SQL).
The model is logistic
regression over the mean feature weight (fastText's averaged-embedding
form with a scalar output), trained by full-batch gradient descent:

  margin(doc) = bias + mean_j weights[feature_j]
  p = sigmoid(margin),  grad_wj = mean_docs err·count_j/n_tokens

Scale: training caches the (label, features) projection once, then each
iteration is one scan + a `dim`-sized shuffle (explode + map-side
combined groupBy-sum) and a scalar agg — no per-row Python anywhere.
At the 100-TB tier you'd train on a sample (`df.sample`) and score the
full corpus; scoring is a pure native expression over an array literal
that whole-stage codegen folds into the scan.

Public-knowledge basis: Joulin et al. 2016 (fastText), standard
logistic-regression gradients; quality-classifier curation as in the
GPT-3 / CCNet data pipelines (public papers).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.functions.dedup import (_SIMHASH_FAMILIES,
                                              _check_hash_params,
                                              portable_hash)
from juliadb_jl_spark.functions.text import tokens


def _feat_hash(w: Column, dim: int, hash_family: str) -> Column:
    """Token → feature id. xxhash64 is the 100-TB default (one native
    call/token); 'portable' is the 31-bit char fold, bit-identical in
    DuckDB for oracle-checked scoring (same family split as MinHash)."""
    if hash_family == "xxhash64":
        return F.pmod(F.xxhash64(w), F.lit(dim))
    return portable_hash(w) % F.lit(dim)


def hashed_features(col: Column, dim: int = 256, lowercase: bool = True,
                    hash_family: str = "xxhash64") -> Column:
    """array<long> of hashed token features. NULL/empty text → empty
    array. Materialize this once when features are reused (training
    does); for one-shot scoring prefer `margin_expr`, which folds with
    the hash inline — the materialize-then-fold nesting compiles a
    pathological codegen method (measured 26 s first-run vs 2 s)."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    toks = tokens(F.lower(col) if lowercase else col)
    return F.transform(toks, lambda w: _feat_hash(w, dim, hash_family))


def _weights_array(weights) -> Column:
    return F.array(*[F.lit(float(w)) for w in weights])


def margin_expr(col: Column, weights, bias: float, lowercase: bool = True,
                hash_family: str = "xxhash64") -> Column:
    """Native scoring margin: bias + mean of weights[feature]; bias
    alone for tokenless docs. ONE fold over the token array with the
    hash inline — no intermediate feature array, no nested-HOF codegen
    cliff (13× faster cold than materialize-then-fold at sf0.1)."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    toks = tokens(F.lower(col) if lowercase else col)
    warr = _weights_array(weights)
    dim = len(weights)
    tot = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, w: acc + F.element_at(
            warr, (_feat_hash(w, dim, hash_family) + 1).cast("int")))
    n = F.size(toks)
    return F.lit(float(bias)) + F.when(n > 0, tot / n).otherwise(F.lit(0.0))


def score_expr(col: Column, weights, bias: float, lowercase: bool = True,
               hash_family: str = "xxhash64") -> Column:
    """sigmoid(margin) as a native Column."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    m = margin_expr(col, weights, bias, lowercase=lowercase,
                    hash_family=hash_family)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def add_quality_score(df: DataFrame, model: dict, text_col: str = "text",
                      out_col: str = "clf_score") -> DataFrame:
    return df.withColumn(
        out_col, score_expr(F.col(text_col), model["weights"],
                            model["bias"],
                            hash_family=model.get("hash_family",
                                                  "xxhash64")))


def train_logreg(df: DataFrame, label_col: str, text_col: str = "text",
                 dim: int = 256, iters: int = 20, lr: float = 1.0,
                 l2: float = 0.0, cache: bool = True,
                 hash_family: str = "xxhash64") -> dict:
    """Full-batch logistic-regression training, distributed.

    Returns {"weights": list[float], "bias": float, "loss": list[float]}
    (loss = mean log-loss per iteration, recorded BEFORE that step's
    update). Deterministic up to float summation order (~1e-15); the
    gradient math is verified against a local numpy reference in
    tests/test_classifier.py."""
    _check_hash_params(hash_family, _SIMHASH_FAMILIES)
    fe = df.select(
        F.col(label_col).cast("double").alias("__y"),
        hashed_features(F.col(text_col), dim=dim,
                        hash_family=hash_family).alias("__feats"))
    if cache:
        fe = fe.persist()
    try:
        n_docs = fe.count()
        weights = [0.0] * dim
        bias = 0.0
        losses: list[float] = []
        for _ in range(iters):
            m = margin_from_feats(F.col("__feats"), weights, bias)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
            e = fe.select(
                "__y", "__feats", (p - F.col("__y")).alias("__err"),
                (-(F.col("__y") * F.log(p) +
                   (1 - F.col("__y")) * F.log(1 - p))).alias("__ll"))
            head = e.agg(F.avg("__err"), F.avg("__ll")).head()
            bias_grad, loss = head[0] or 0.0, head[1] or 0.0
            g = (e.filter(F.size("__feats") > 0)
                 .select(F.explode("__feats").alias("__j"),
                         (F.col("__err") / F.size("__feats")).alias("__g"))
                 .groupBy("__j").agg(F.sum("__g").alias("__s")))
            grad = {r["__j"]: r["__s"] for r in g.collect()}
            weights = [w - lr * (grad.get(j, 0.0) / n_docs + l2 * w)
                       for j, w in enumerate(weights)]
            bias -= lr * bias_grad
            losses.append(loss)
    finally:
        if cache:
            fe.unpersist()
    return {"weights": weights, "bias": bias, "loss": losses,
            "hash_family": hash_family}


def margin_from_feats(feats: Column, weights, bias: float) -> Column:
    """margin over a precomputed feature array (training hot path)."""
    warr = _weights_array(weights)
    tot = F.aggregate(
        feats, F.lit(0.0),
        lambda acc, j: acc + F.element_at(warr, (j + 1).cast("int")))
    n = F.size(feats)
    return F.lit(float(bias)) + F.when(n > 0, tot / n).otherwise(F.lit(0.0))


def model_save(spark, model: dict, path: str) -> None:
    """Persist a trained model as parquet: one row per weight plus a
    bias row (feature_id -1) and the hash family in a metadata row."""
    rows = [(j, float(w), model.get("hash_family", "xxhash64"))
            for j, w in enumerate(model["weights"])]
    rows.append((-1, float(model["bias"]),
                 model.get("hash_family", "xxhash64")))
    spark.createDataFrame(
        rows, "feature_id int, value double, hash_family string") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def model_load(spark, path: str) -> dict:
    rows = spark.read.parquet(path).collect()
    by_id = {r["feature_id"]: r["value"] for r in rows}
    bias = by_id.pop(-1)
    weights = [by_id[j] for j in range(len(by_id))]
    return {"weights": weights, "bias": bias,
            "hash_family": rows[0]["hash_family"], "loss": []}


def local_reference_train(rows, dim, iters=5, lr=1.0, l2=0.0):
    """Pure-Python mirror of train_logreg for differential testing:
    rows = [(y, feats list)]."""
    n_docs = len(rows)
    weights = [0.0] * dim
    bias = 0.0
    losses = []
    for _ in range(iters):
        grad = [0.0] * dim
        bias_grad = 0.0
        loss = 0.0
        for y, feats in rows:
            m = bias + (sum(weights[j] for j in feats) / len(feats)
                        if feats else 0.0)
            p = 1.0 / (1.0 + math.exp(-m))
            err = p - y
            bias_grad += err
            loss += -(y * math.log(p) + (1 - y) * math.log(1 - p))
            for j in feats:
                grad[j] += err / len(feats)
        weights = [w - lr * (grad[j] / n_docs + l2 * w)
                   for j, w in enumerate(weights)]
        bias -= lr * (bias_grad / n_docs)
        losses.append(loss / n_docs)
    return {"weights": weights, "bias": bias, "loss": losses}


def calibration_report(df: DataFrame, score_col: str, label_col: str,
                       thresholds: Sequence[float]) -> DataFrame:
    """Threshold sweep for a scored corpus against binary labels: per
    threshold t, the confusion counts and precision/recall/F1 of the
    gate `score >= t` — the table that picks a quality-classifier
    cutoff before it gates a 100-TB corpus (the step between q95-style
    training and the actual filter).

    Returns one row per threshold:
    (threshold, n_pred_pos, tp, fp, fn, precision, recall, f1);
    empty denominators report 0.0, NULL labels/scores count negative.

    Scale (100 TB): ONE corpus pass — every threshold's two conditional
    sums plus the shared positive count ride a single
    map-side-combined global aggregation (the `curation_funnel`
    shape); the per-threshold rows are inlined from that one row."""
    if not thresholds:
        raise ValueError("need at least one threshold")
    s = F.col(score_col)
    y = F.coalesce(F.col(label_col).cast("boolean"), F.lit(False))
    aggs = [F.sum(y.cast("long")).alias("__pos")]
    for i, t in enumerate(thresholds):
        pred = F.coalesce(s >= F.lit(float(t)), F.lit(False))
        aggs.append(F.sum(pred.cast("long")).alias(f"__p{i}"))
        aggs.append(F.sum((pred & y).cast("long")).alias(f"__tp{i}"))
    row = df.agg(*aggs)

    def struct_for(i: int, t: float):
        pred, tp = F.col(f"__p{i}"), F.col(f"__tp{i}")
        prec = F.when(pred > 0, tp / pred).otherwise(F.lit(0.0))
        rec = F.when(F.col("__pos") > 0,
                     tp / F.col("__pos")).otherwise(F.lit(0.0))
        f1 = F.when(prec + rec > 0,
                    2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
        return F.struct(
            F.lit(float(t)).alias("threshold"),
            pred.alias("n_pred_pos"), tp.alias("tp"),
            (pred - tp).alias("fp"), (F.col("__pos") - tp).alias("fn"),
            prec.alias("precision"), rec.alias("recall"), f1.alias("f1"))

    return row.select(F.inline(F.array(
        *[struct_for(i, t) for i, t in enumerate(thresholds)])))
