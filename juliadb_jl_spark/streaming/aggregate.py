"""Streaming aggregation layer.

The reference has no streaming engine (SURVEY.md §2.10); its OnlineStats
fit/merge model is exactly Spark's partial-aggregation contract, so the
same reducer forms used by `groupreduce` run unchanged under Structured
Streaming.  This module exposes:
  * tumbling/sliding/session event-time windows with watermarks,
  * the reducer-form compiler re-used for streaming aggs,
  * a batch-equivalent path (`..._batch`) so the identical aggregation is
    oracle-checkable on static data (the driver's events table).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.operators.reduce import compile_reducers
from juliadb_jl_spark.plans.table import Table


def windowed_agg(df: DataFrame, ts_col: str, f: Any, by: Any = None,
                 window: str = "1 hour", slide: str | None = None,
                 watermark: str | None = None, select: Any = None) -> DataFrame:
    """Event-time windowed aggregation, streaming or batch (same code path —
    `F.window` works on both; watermark applies only to streams)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    keys = [win.alias("window")] + ([by] if isinstance(by, str) else list(by or []))
    t = Table(df)
    exprs = compile_reducers(t, f, select)
    out = df.groupBy(*keys).agg(*[c.alias(n) for n, c in exprs])
    return out.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *[c for c in out.columns if c != "window"])


def session_agg(df: DataFrame, ts_col: str, by: Any, f: Any,
                gap: str = "30 minutes", watermark: str | None = None,
                select: Any = None) -> DataFrame:
    """Session windows (gap-based) — native `session_window`."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(ts_col, gap)
    keys = [win.alias("session")] + ([by] if isinstance(by, str) else list(by))
    t = Table(df)
    exprs = compile_reducers(t, f, select)
    out = df.groupBy(*keys).agg(*[c.alias(n) for n, c in exprs])
    return out.select(F.col("session.start").alias("session_start"),
                      F.col("session.end").alias("session_end"),
                      *[c for c in out.columns if c != "session"])


def running_reduce_stream(df: DataFrame, key_col: str, value_col: str,
                          ts_col: str | None = None):
    """Custom stateful streaming operator: per-key running (count, sum,
    min, max) maintained across triggers via applyInPandasWithState —
    the OnlineStat fit!/merge contract under Structured Streaming
    (SURVEY.md §2.10). Emits one updated row per key per trigger."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (f"`{key_col}` long, n long, total double, "
                  "vmin double, vmax double")
    state_schema = "n long, total double, vmin double, vmax double"

    def fn(key, pdfs, state: GroupState):
        n, total, vmin, vmax = (state.get if state.exists
                                else (0, 0.0, None, None))
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if len(vals):
                n += len(vals)
                total += float(vals.sum())
                lo, hi = float(vals.min()), float(vals.max())
                vmin = lo if vmin is None else min(vmin, lo)
                vmax = hi if vmax is None else max(vmax, hi)
        state.update((n, total, vmin, vmax))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total],
                            "vmin": [vmin], "vmax": [vmax]})

    return (df.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_dedup(df: DataFrame, keys: list[str] | str,
                    ts_col: str | None = None,
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first row per key.  With a ts
    column, state is bounded by the watermark (dropDuplicatesWithinWatermark
    — keys older than the watermark are evicted); without one, state grows
    with distinct keys (batch-equivalent dropDuplicates)."""
    if isinstance(keys, str):
        keys = [keys]
    if ts_col and df.isStreaming:
        return (df.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(keys))
    return df.dropDuplicates(keys)


def stream_dedup_against(df: DataFrame, index: DataFrame,
                         text_col: str = "text",
                         normalized: bool = True) -> DataFrame:
    """Continuous-ingest exact dedup: drop streamed rows whose text
    fingerprint already exists in the STATIC corpus index (the artifact
    ``incremental.dedup_index`` builds) via a stream-static left-anti
    join — Spark re-reads the static side per micro-batch, so saving an
    updated index between batches is picked up automatically.

    Composition note: this is the corpus-vs-stream half; chain
    ``streaming_dedup`` on the fingerprint for WITHIN-stream dedup
    (bounded state via watermark).  Works identically on a batch frame
    (the anti-join is the same plan ``dedup_exact_against`` uses)."""
    from juliadb_jl_spark.functions.incremental import _fp
    fp = _fp(text_col, normalized)
    return (df.withColumn("__fp", fp)
            .join(index.select(F.col("fp").alias("__fp")), "__fp",
                  "left_anti")
            .drop("__fp"))


def stream_minhash_against(df: DataFrame, index: DataFrame, id_col: str,
                           text_col: str = "text", k: int = 3,
                           num_hashes: int = 32, bands: int = 8,
                           hash_family: str = "crc32perm") -> DataFrame:
    """Streaming near-dup candidates vs the STATIC MinHash index: each
    streamed doc gets its per-row signature (dedup.minhash_signature —
    a per-row Arrow projection in both families, no aggregation, so it
    runs under Structured Streaming), is banded, and stream-static
    equi-joined against the banded index.  Emits (id_new, id_corpus)
    candidate links; a pair sharing several bands repeats up to
    `bands` times — dedup/exact-verify downstream in batch (verify
    needs corpus text; distinct on an unbounded stream would grow
    state forever).  Batch frames take the identical plan, which is
    how the batch-equivalence test checks it against
    incremental.minhash_against candidates.

    ``hash_family`` ("crc32perm" default, or "portable") must match the
    index's build family — validated against the index's recorded
    column metadata by ``incremental.check_index_family`` (the static
    side, so the check runs at plan time, not per micro-batch); an
    index of the removed xxhash64 family raises and must be rebuilt."""
    from juliadb_jl_spark.functions.dedup import (
        _MINHASH_FAMILIES, _check_hash_params, band_buckets,
        minhash_signature)
    from juliadb_jl_spark.functions.incremental import check_index_family
    _check_hash_params(hash_family, _MINHASH_FAMILIES, num_hashes, bands)
    check_index_family(index, hash_family, num_hashes, bands, k)
    r = num_hashes // bands
    sig = minhash_signature(df, id_col, text_col, k, num_hashes,
                            hash_family)
    n = band_buckets(sig, bands, r, hash_family).alias("n")
    idx_id = id_col if id_col in index.columns else "id"
    c = band_buckets(index.select(F.col(idx_id).alias("id"), "signature"),
                     bands, r, hash_family).alias("c")
    return (n.join(c, (F.col("n.band") == F.col("c.band")) &
                   (F.col("n.bucket") == F.col("c.bucket")))
            .select(F.col("n.id").alias("id_new"),
                    F.col("c.id").alias("id_corpus")))


def stream_join(l: DataFrame, r: DataFrame, on, l_ts: str, r_ts: str,
                watermark: str = "1 hour", within: str = "1 hour",
                how: str = "inner") -> DataFrame:
    """Stream-stream equi-join with bounded state: both sides get an
    event-time watermark and the join carries a time-range predicate
    (`r_ts` within [l_ts - within, l_ts]) so Spark can evict state —
    without the range condition a stream-stream join buffers forever.
    Works identically on batch DataFrames (the time predicate just
    becomes a filter), which is how the batch-equivalence test runs it."""
    from pyspark.sql import functions as F
    if l.isStreaming:
        l = l.withWatermark(l_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(r_ts, watermark)
    on = [on] if isinstance(on, str) else list(on)
    cond = None
    for k in on:
        c = l[k] == r[k]
        cond = c if cond is None else cond & c
    rng = ((r[r_ts] >= l[l_ts] - F.expr(f"INTERVAL {within}")) &
           (r[r_ts] <= l[l_ts]))
    out = l.join(r, cond & rng, how)
    # drop the duplicate right-side key columns
    for k in on:
        out = out.drop(r[k])
    return out


def stream_from_parquet(spark, path: str, schema=None,
                        max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a parquet directory (smoke/testing shape —
    production would be Kafka/event-hub; the transformations are
    source-agnostic)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drive a streaming query to completion against a finite source and
    return the in-memory result table (testing harness)."""
    q = (stream_df.writeStream.outputMode(mode)
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
