"""Corpus-curation operators for LLM training-data pipelines:
repetition signals (Gopher-style quality rules), PII detection and
redaction, benchmark-contamination checks, and deterministic global
shuffling of training order.

Scale (100 TB):
- Repetition and PII operators are pure per-row native Column
  expressions — embarrassingly parallel maps, zero shuffle, fully
  codegen'd JVM-side. (`top_element_fraction` is O(distinct·len) per
  row — fine for documents chunked at ingest; for pathological
  multi-MB docs use the explode-based `top_ngram_fraction_grouped`.)
- Contamination joins the exploded corpus n-grams against the
  benchmark n-gram set; the benchmark (an eval suite) is tiny relative
  to the corpus, so it broadcasts and the corpus is never shuffled —
  one explode + one per-doc aggregation.
- `shuffle_rows` is sort-by-seeded-hash: a deterministic, seed-keyed
  permutation realized as ONE range repartition; the optional global
  position uses the two-pass parallel numbering (no single-partition
  Exchange).

Every operator is mirrorable in ANSI/DuckDB SQL for the correctness
oracle (list_distinct / regexp_extract_all / identical hash constants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from juliadb_jl_spark.functions import _kernels as K
from juliadb_jl_spark.functions.sampling import hash_unit
from juliadb_jl_spark.functions.text import (arrow_shingles,
                                             shingles)
from juliadb_jl_spark.operators.sort import with_global_rownum

# ---------------------------------------------------------------------------
# Repetition signals (the Gopher repetition-filter family)
# ---------------------------------------------------------------------------


def lines_(col: Column) -> Column:
    """Non-empty lines of a document as array<string> (NULL → empty)."""
    return F.filter(F.split(F.coalesce(col, F.lit("")), "\n"),
                    lambda x: F.length(x) > 0)


def paragraphs(col: Column) -> Column:
    """Non-blank paragraphs (blank-line separated) as array<string>."""
    parts = F.split(F.coalesce(col, F.lit("")), r"\n\s*\n")
    return F.filter(parts, lambda x: F.length(F.trim(x)) > 0)


def text_lines(col: Column) -> Column:
    """Non-blank lines as array<string> — the C4 dedup granularity."""
    parts = F.split(F.coalesce(col, F.lit("")), r"\n")
    return F.filter(parts, lambda x: F.length(F.trim(x)) > 0)


_SPLITTERS = {"paragraph": (paragraphs, "\n\n"), "line": (text_lines, "\n")}


def dup_fraction(arr: Column) -> Column:
    """Fraction of array elements that are repeats of an earlier element:
    1 - distinct/total (0 for empty arrays). Native, per-row."""
    n = F.size(arr)
    return F.when(n > 0,
                  F.lit(1.0) - F.size(F.array_distinct(arr)) / n) \
        .otherwise(F.lit(0.0))


def top_element_fraction(arr: Column) -> Column:
    """Occurrences of the most frequent element / total elements (0 for
    empty arrays). Per-row native expression: sort the array, then one
    aggregate pass tracking the longest run of equal adjacent elements —
    O(n log n) per row, no shuffle. (The obvious nested form — a filter
    per distinct element — is O(distinct·len) AND runs interpreted at
    ~15 µs per comparison inside nested lambdas: 300× slower on real
    documents.) For multi-MB documents prefer
    `top_ngram_fraction_grouped`."""
    n = F.size(arr)
    s = F.array_sort(arr)
    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, x):
        run = (F.when(x.eqNullSafe(acc["prev"]), acc["run"] + F.lit(1))
               .otherwise(F.lit(1)))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    best = F.aggregate(s, acc0, step, lambda a: a["best"])
    return F.when(n > 0, best / n).otherwise(F.lit(0.0))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard repetition-quality columns (all per-row
    native; the Gopher-style 'repetitious document' signals):

    - dup_line_frac / dup_para_frac — duplicate lines / paragraphs
    - dup_tok_frac — duplicate whitespace tokens
    - dup_2gram_frac / dup_3gram_frac — duplicate word n-grams
    - top_2gram_frac — share of the single most frequent 2-gram

    Filter rule of thumb (Gopher): drop when dup_line_frac > 0.30,
    dup_para_frac > 0.30, or top_2gram_frac > 0.20.
    """
    c = F.col(text_col)
    return (df
            .withColumn("dup_line_frac", dup_fraction(lines_(c)))
            .withColumn("dup_para_frac", dup_fraction(paragraphs(c)))
            .withColumn("dup_tok_frac",
                        dup_fraction(F.split(F.trim(c), r"\s+")))
            .withColumn("dup_2gram_frac", dup_fraction(shingles(c, 2)))
            .withColumn("dup_3gram_frac", dup_fraction(shingles(c, 3)))
            .withColumn("top_2gram_frac",
                        top_element_fraction(shingles(c, 2))))


def top_ngram_fraction_grouped(df: DataFrame, id_col: str,
                               text_col: str = "text", n: int = 2,
                               name: str = "top_ngram_frac") -> DataFrame:
    """Explode-based variant of `top_element_fraction` for very large
    documents: explode n-grams, count per (doc, gram), take the per-doc
    max — two shuffles but per-row work is linear. Returns
    (id_col, name); docs with < n tokens get 0.0."""
    grams = df.select(F.col(id_col),
                      F.explode_outer(arrow_shingles(F.col(text_col), n))
                      .alias("__g"))
    per_gram = grams.groupBy(id_col, "__g") \
        .agg(F.count(F.lit(1)).alias("__c"))
    return (per_gram.groupBy(id_col)
            .agg(F.when(F.max(F.col("__g").isNotNull().cast("int")) == 1,
                        F.max("__c") / F.sum("__c"))
                 .otherwise(F.lit(0.0)).alias(name)))


# ---------------------------------------------------------------------------
# C4-style line-level cleaning
# ---------------------------------------------------------------------------

C4_LINE_BLOCKLIST = ("lorem ipsum", "javascript", "{")


def c4_keep_line(line: Column, min_words: int = 3,
                 require_terminal: bool = True,
                 blocklist: tuple[str, ...] = C4_LINE_BLOCKLIST) -> Column:
    """The C4 (Raffel et al. 2020) per-line keep predicate, as one native
    boolean expression: >= min_words words, ends in terminal punctuation,
    and contains no blocklisted phrase (case-insensitive)."""
    words = F.filter(F.split(F.trim(line), r"\s+"),
                     lambda x: F.length(x) > 0)
    cond = F.size(words) >= min_words
    if require_terminal:
        cond = cond & line.rlike(r"""[.!?"']\s*$""")
    low = F.lower(line)
    for phrase in blocklist:
        cond = cond & ~low.contains(phrase)
    return cond


def c4_line_clean(df: DataFrame, text_col: str = "text",
                  clean_col: str = "text_clean", min_words: int = 3,
                  require_terminal: bool = True,
                  blocklist: tuple[str, ...] = C4_LINE_BLOCKLIST) -> DataFrame:
    """C4-style line-level document cleaning: keep only lines that look
    like real sentences, rejoin survivors with newlines, and report
    (n_lines, n_kept) per document.

    Scale: a pure per-row native map (split / higher-order filter /
    array_join) — zero shuffle, fully codegen'd; safe as the first stage
    of a 100 TB curation pipeline. Mirrorable in DuckDB via
    list_filter + array_to_string for the oracle."""
    nonblank = lines_(F.col(text_col))
    kept = F.filter(nonblank,
                    lambda l: c4_keep_line(l, min_words, require_terminal,
                                           blocklist))
    return (df
            .withColumn("n_lines", F.size(nonblank))
            .withColumn("n_kept", F.size(kept))
            .withColumn(clean_col, F.array_join(kept, "\n")))


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
# Patterns stay inside the RE2 ∩ java.util.regex common subset (no
# lookaround, no backreferences) so Spark and the DuckDB oracle compile
# the IDENTICAL pattern strings. Redaction order is fixed (email first:
# its local/domain parts can embed digit runs the later patterns match).

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"(\+?\d{1,2}[-. ])?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]\d{4}",
}

_PII_ORDER = ("email", "ipv4", "phone")


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-category PII match counts (native regexp_count, no shuffle)."""
    return {name: F.regexp_count(col, F.lit(pat))
            for name, pat in PII_PATTERNS.items()}


def scrub_pii(col: Column) -> Column:
    """Redact every PII category to a `<CATEGORY>` placeholder, in the
    fixed `_PII_ORDER` so overlapping matches resolve deterministically."""
    out = col
    for name in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return out


def add_pii_columns(df: DataFrame, text_col: str = "text",
                    scrubbed_col: str = "text_scrubbed") -> DataFrame:
    """Attach n_pii_<cat> count columns and the scrubbed text."""
    c = F.col(text_col)
    for name, cnt in pii_counts(c).items():
        df = df.withColumn(f"n_pii_{name}", cnt)
    return df.withColumn(scrubbed_col, scrub_pii(c))


# ---------------------------------------------------------------------------
# Benchmark contamination
# ---------------------------------------------------------------------------


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 5,
                         broadcast_benchmark: bool = True) -> DataFrame:
    """Per-corpus-document overlap with a benchmark/eval document set,
    measured on DISTINCT word n-grams (the standard decontamination
    check: an eval example 'leaks' into training data when long n-grams
    of it appear verbatim).

    Returns (id_col, n_grams, n_hits, contamination) where
    contamination = n_hits / n_grams in [0,1]; documents with < n
    tokens report 0 grams / 0 hits / 0.0.

    Scale: the benchmark side reduces to its distinct n-gram set —
    eval suites are tiny next to a 100 TB corpus — and broadcasts, so
    the corpus is ONE explode + ONE per-doc aggregation with no corpus
    shuffle beyond the groupBy(id). Set broadcast_benchmark=False to
    fall back to a shuffled join when the 'benchmark' is itself huge
    (e.g. corpus-vs-corpus leakage).
    """
    from juliadb_jl_spark.functions.dedup import _spread
    # _spread first: the shingle transform is an interpreted HOF
    # (~0.5 ms/doc) and single-file inputs arrive as ONE partition,
    # serializing the whole corpus's gram work on one core (the
    # q9h/q9j lesson — measured 30x on the 1-file sf1 rung)
    grams = _spread(corpus).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("__g"))
    bench = _spread(benchmark).select(
        F.explode(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("__g")).distinct().withColumn("__hit", F.lit(1))
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    joined = grams.join(bench, "__g", "left")
    n_grams = F.sum(F.col("__g").isNotNull().cast("long"))
    n_hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
    return (joined.groupBy(id_col)
            .agg(n_grams.alias("n_grams"), n_hits.alias("n_hits"))
            .withColumn("contamination",
                        F.when(F.col("n_grams") > 0,
                               F.col("n_hits") / F.col("n_grams"))
                        .otherwise(F.lit(0.0))))


def novelty_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 5) -> DataFrame:
    """Per-document n-gram novelty against the rest of the corpus: the
    fraction of a doc's DISTINCT word n-grams that appear in no other
    document. Low novelty flags boilerplate/templated/memorized text
    that per-doc repetition signals miss (the duplication is across
    docs, not within one).

    Returns (id_col, n_grams, n_shared, novelty) with
    novelty = 1 - n_shared/n_grams; docs with < n tokens report
    0 / 0 / 1.0 (nothing to be un-novel about).

    Scale: this is the engine's one corpus-vs-ITSELF gram op, so
    unlike contamination/split-leakage nothing broadcasts — the gram
    stream itself must aggregate, and it aggregates ONCE: the
    (key → df, min(id)) aggregation both counts document frequency and
    names the sole owner of every df=1 gram, so
    n_shared = n_grams − n_unique(owner); per-doc n_grams rides the
    scan directly.

    - Gram text is never built: the 128-bit key (`_kernels.gram_keys`,
      two polynomial lanes over a 64-bit per-token crc base) is computed
      and per-doc deduped inside one Arrow pass, so 16 bytes per
      distinct gram cross Arrow and the frequency exchange (collision
      odds ~10^-20 at 10^9 grams). The n_grams divisor counts the same
      distinct (h1, h2) pairs. The string-keyed form is the test
      reference (tests/test_curation.py).
    - The frequency count pre-partitions BY THE KEY onto
      4×parallelism partitions, so each task's aggregation map is
      bounded by distinct_grams/partitions (the map-side partial agg
      of a high-entropy gram stream combines nothing and ran out of
      memory at the 5M-doc rung)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from juliadb_jl_spark.functions.dedup import _spread
    from juliadb_jl_spark.functions.text import (distinct_gram_count_udf,
                                                 tokens)
    p = df.sparkSession.sparkContext.defaultParallelism
    sp = _spread(df)
    key_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__h1", T.LongType()),
        T.StructField("__h2", T.LongType())])

    def _emit_keys(it):
        # per-doc DISTINCT (h1, h2) gram keys, exploded to rows HERE —
        # nothing but 16-byte keys crosses Arrow; gramless docs emit
        # nothing (the per_doc left join keeps them)
        for rb in it:
            nwin, _, h1, h2 = K.gram_keys(K.tokens_of(rb.column(1)), n)
            doc, h1, h2 = K.doc_unique(K.row_index(nwin), h1, h2)
            if len(doc):
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0).take(pa.array(doc)),
                     pa.array(h1.view(np.int64)), pa.array(h2.view(np.int64))],
                    names=key_schema.fieldNames())

    grams = (sp.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
             .mapInArrow(_emit_keys, key_schema)
             .withColumnRenamed("__id", id_col))
    knames = ["__h1", "__h2"]
    per_doc = sp.select(
        F.col(id_col),
        distinct_gram_count_udf(n)(tokens(F.col(text_col))).alias("n_grams"))
    # n_shared = n_grams − n_unique: a gram with document frequency 1
    # has exactly ONE owning document, and the same (key → count,
    # min(id)) aggregation that computes df also names that owner — so
    # the corpus-sized join back onto the gram stream (a second full
    # gram exchange + sort) disappears entirely. Plan: one scan
    # computing per-doc n_grams (no shuffle beyond the spread), one
    # key-partitioned gram aggregation, a doc-keyed count of the
    # df=1 owners, and a doc-count-sized stitch join.
    uniq = (grams.select(F.col(id_col), *knames)
            .repartition(4 * p, *knames)
            .groupBy(*knames)
            .agg(F.count(F.lit(1)).alias("__df"),
                 F.min(id_col).alias("__owner"))
            .filter(F.col("__df") == 1)
            .groupBy(F.col("__owner").alias(id_col))
            .agg(F.count(F.lit(1)).alias("__nu")))
    return (per_doc.join(uniq, id_col, "left")
            .select(id_col, "n_grams",
                    (F.col("n_grams") -
                     F.coalesce(F.col("__nu"), F.lit(0)))
                    .alias("n_shared"))
            .withColumn("novelty",
                        F.when(F.col("n_grams") > 0,
                               1 - F.col("n_shared") / F.col("n_grams"))
                        .otherwise(F.lit(1.0))))


# ---------------------------------------------------------------------------
# Deterministic global shuffle (training order)
# ---------------------------------------------------------------------------


def shuffle_rows(df: DataFrame, key: str, seed: int = 1,
                 pos_col: str | None = None) -> DataFrame:
    """Deterministic global shuffle: order rows by the seeded portable
    key hash (`sampling.hash_unit`) with the key as tie-break — a
    reproducible random permutation of training order, keyed only by
    (data, seed): stable across runs, engines, partition counts and
    cluster sizes; changing `seed` gives an independent epoch order.

    Realized as one repartitionByRange + local sort (partitions come
    out range-ordered by hash — exactly the layout a sharded training
    reader wants). `pos_col` additionally materializes the 0-based
    global position via the two-pass parallel numbering (no
    single-partition Exchange).
    """
    out = df.withColumn("__u", hash_unit(F.col(key), seed))
    out = (out.repartitionByRange(F.col("__u"), F.col(key))
           .sortWithinPartitions(F.col("__u"), F.col(key)))
    if pos_col is not None:
        out = with_global_rownum(out, pos_col,
                                 order=[F.col("__u"), F.col(key)])
        out = out.withColumn(pos_col, F.col(pos_col) - 1)
    return out.drop("__u")


# ---------------------------------------------------------------------------
# Paragraph-level dedup (the MassiveText / RefinedWeb granularity)
# ---------------------------------------------------------------------------
# Whole-document exact dedup misses documents that share SOME paragraphs
# (boilerplate headers, license blocks, templated sections); substring
# dedup (fixed token windows) cuts inside natural units. Paragraph
# granularity removes repeated blank-line-separated blocks and
# reconstructs the surviving document — the standard middle layer of a
# production curation stack.


def exploded_paragraphs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        granularity: str = "paragraph") -> DataFrame:
    """(id_col, pos, para, __fp): trimmed non-blank units with their
    0-based position; documents with no units keep one row with NULL
    pos/para so downstream rollups still see every doc. `granularity`
    picks the unit: "paragraph" (blank-line separated, MassiveText) or
    "line" (newline separated, the C4 dedup granularity).
    `__fp` is a 64-bit fingerprint used ONLY as a cheap equi-join/group
    prefix — full-text equality always rides along, so collisions
    cannot merge distinct paragraphs."""
    from juliadb_jl_spark.functions.dedup import _spread
    splitter, _ = _SPLITTERS[granularity]
    p = _spread(df).select(F.col(id_col),
                           F.posexplode_outer(splitter(F.col(text_col)))
                           .alias("pos", "para"))
    p = p.withColumn("para", F.trim(F.col("para")))
    return p.withColumn("__fp", F.xxhash64(F.col("para")))


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", sep: str | None = None,
                    granularity: str = "paragraph") -> DataFrame:
    """Global exact paragraph dedup with document reconstruction: for
    every distinct paragraph string, the occurrence with the smallest
    (id, pos) survives; all later occurrences — in the same or other
    documents — are removed, and each document is reassembled from its
    surviving paragraphs in original order. `granularity="line"` is the
    C4 shape (dedup exact lines corpus-wide); `sep` defaults to the
    granularity's natural separator.

    Returns (id_col, n_paras, n_kept, text_dedup) for EVERY input
    document (fully-deduped docs get text_dedup = '').

    Precondition: `id_col` is unique per row (every call site feeds a
    primary-keyed corpus).  Duplicate ids would fan out the final
    counts⋈recon join — the pre-r9 groupBy(id) shape summed them
    instead (ADVICE r9); de-dup ids first if that ever changes.

    Scale (100 TB): keeper election is a groupBy(min(struct(id,pos)))
    on (fingerprint, paragraph) — partial aggregation combines map-side,
    so a paragraph duplicated across millions of documents (the skew
    case) reduces to one row per partition before the shuffle. That
    aggregate's output row IS the keeper occurrence (it carries the
    paragraph text and the winning (id, pos)), so there is NO join back
    to the corpus: the keeper rows feed reconstruction directly, and
    only KEPT text crosses the doc-id shuffle. Per-doc totals come from
    a parallel doc-keyed count of the same explode; the final stitch is
    an id-keyed join of two doc-count-sized aggregates. The corpus
    paragraph text crosses exactly two exchanges — (fp, para) election
    and the kept-only reconstruction — vs three in the join-back shape
    this replaced (r6: 2.0 s → 1.2 s warm at sf0.1)."""
    splitter, default_sep = _SPLITTERS[granularity]
    sep = default_sep if sep is None else sep
    paras = exploded_paragraphs(df, id_col, text_col, granularity)
    # Per-doc totals straight off the split array — one row per doc, no
    # explode and no aggregation shuffle (r9; the former shape re-ran
    # the corpus explode a second time and map+final aggregated it just
    # to count units per doc).  count("para") over posexplode_outer ==
    # size(splitter(text)): splitter never yields NULL elements and an
    # empty array outer-explodes to a single NULL-para row counted 0.
    counts = df.select(F.col(id_col),
                       F.size(splitter(F.col(text_col)))
                       .cast("long").alias("n_paras"))
    first = (paras.filter(F.col("para").isNotNull())
             .groupBy("__fp", "para")
             .agg(F.min(F.struct(F.col(id_col).alias("kid"),
                                 F.col("pos").alias("kpos")))
                  .alias("__keep")))
    kept_rows = first.select(F.col("__keep.kid").alias(id_col),
                             F.col("__keep.kpos").alias("pos"), "para")
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"),
                                                 F.col("para")))),
            lambda s: s["para"]), sep)
    recon = (kept_rows.groupBy(id_col)
             .agg(F.count(F.lit(1)).alias("__nk"), body.alias("__txt")))
    return (counts.join(recon, id_col, "left")
            .select(id_col, "n_paras",
                    F.coalesce("__nk", F.lit(0)).alias("n_kept"),
                    F.coalesce("__txt", F.lit("")).alias("text_dedup")))


def boilerplate_paragraphs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", min_docs: int = 2,
                           granularity: str = "paragraph") -> DataFrame:
    """The corpus's boilerplate table: paragraphs appearing in at least
    `min_docs` DISTINCT documents, with (para, n_docs, n_occ). Output
    is boilerplate-sized (small); the corpus crosses one map-side-
    combinable aggregation keyed on the paragraph."""
    paras = exploded_paragraphs(df, id_col, text_col, granularity) \
        .filter(F.col("para").isNotNull())
    return (paras.groupBy("para")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_docs") >= min_docs))


def drop_boilerplate(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_docs: int = 2,
                     sep: str | None = None,
                     granularity: str = "paragraph") -> DataFrame:
    """Remove EVERY occurrence of boilerplate paragraphs (those in
    ≥ min_docs distinct documents) and reconstruct the documents —
    unlike `paragraph_dedup`, which keeps one canonical occurrence.
    Returns (id_col, n_paras, n_kept, text_clean).

    Scale: the boilerplate table is small by construction (it is the
    repeated material), so the anti-join broadcasts; the corpus text
    crosses one shuffle (the reconstruction groupBy)."""
    sep = _SPLITTERS[granularity][1] if sep is None else sep
    paras = exploded_paragraphs(df, id_col, text_col, granularity)
    bp = boilerplate_paragraphs(df, id_col, text_col, min_docs,
                                granularity) \
        .select("para", F.lit(True).alias("__bp"))
    flagged = paras.join(F.broadcast(bp), "para", "left")
    kept = F.col("para").isNotNull() & F.col("__bp").isNull()
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(kept, F.struct(F.col("pos"), F.col("para"))))),
            lambda s: s["para"]), sep)
    return (flagged.groupBy(id_col)
            .agg(F.count("para").alias("n_paras"),
                 F.sum(kept.cast("long")).alias("n_kept"),
                 body.alias("text_clean")))


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 64,
                    overlap: int = 0) -> DataFrame:
    """Token-window chunking — the RAG / eval / serving handoff unit:
    each document becomes windows of `size` whitespace tokens whose
    starts advance by stride = size - overlap (the standard
    sliding-window retrieval chunking; overlap keeps boundary context).

    Returns (id_col, chunk_id, n_chunks, tok_start, tok_len,
    chunk_text); documents with zero tokens produce zero chunks.

    Scale (100 TB): a pure per-row native transform — tokenize, a
    `sequence` of window starts, posexplode, `slice`+`array_join` per
    chunk.  Zero shuffles, fully codegen'd; `_spread` first so
    single-file inputs don't serialize the per-doc work in one task
    (the q9h/q9j lesson)."""
    if not (0 <= overlap < size):
        raise ValueError(f"need 0 <= overlap < size (got {overlap}, {size})")
    from juliadb_jl_spark.functions.dedup import _spread
    from juliadb_jl_spark.functions.text import tokens
    stride = size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
        .otherwise(F.array().cast("array<int>"))
    t = _spread(df).select(F.col(id_col), toks.alias("__toks"),
                           n.alias("__n"), starts.alias("__starts"))
    c = t.select(F.col(id_col), "__toks", "__n",
                 F.size("__starts").cast("long").alias("n_chunks"),
                 F.posexplode("__starts").alias("chunk_id", "tok_start"))
    return c.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_chunks",
        F.col("tok_start").cast("long").alias("tok_start"),
        F.least(F.lit(size), F.col("__n") - F.col("tok_start"))
        .cast("long").alias("tok_len"),
        F.array_join(F.slice("__toks", F.col("tok_start") + 1, F.lit(size)),
                     " ").alias("chunk_text"))


def filter_by_quantile(df: DataFrame, col: str, lo: float = 0.0,
                       hi: float = 1.0) -> DataFrame:
    """Quantile gate — keep rows whose `col` lies within the corpus's
    [P_lo, P_hi] interpolated percentiles (inclusive): the standard
    curation cut for length / perplexity / quality outliers where the
    thresholds must come from the DATA, not a hand-picked constant.

    Scale (100 TB): one aggregation computes both thresholds
    (`F.percentile` exact — the oracle path; `approx_percentile` is
    the documented same-plan sketched swap), then a broadcast 1-row
    cross-join feeds a pure filter — the corpus itself never
    shuffles."""
    if not (0.0 <= lo <= hi <= 1.0):
        raise ValueError(f"need 0 <= lo <= hi <= 1 (got {lo}, {hi})")
    b = df.agg(F.percentile(F.col(col), F.lit(lo)).alias("__qlo"),
               F.percentile(F.col(col), F.lit(hi)).alias("__qhi"))
    return (df.crossJoin(F.broadcast(b))
            .filter((F.col(col) >= F.col("__qlo")) &
                    (F.col(col) <= F.col("__qhi")))
            .drop("__qlo", "__qhi"))


def quantile_buckets(df: DataFrame, col: str, n_buckets: int = 10,
                     name: str = "bucket") -> DataFrame:
    """Assign every row its corpus quantile bucket for `col` (0-based;
    bucket b spans [P_{b/n}, P_{(b+1)/n})) — curriculum ordering,
    quality-tier analyses, stratified eval slices. The scale-correct
    ntile: a global `ntile(n)` window needs a full sort on ONE
    partition; here the n-1 exact interpolated thresholds come from a
    single aggregation (approx_percentile = the documented 100-TB
    sketched swap) and ride a broadcast onto a pure per-row bucket
    expression — the corpus never shuffles. Ties with a threshold go
    to the higher bucket (value >= threshold), matching the SQL-oracle
    CASE mirror; NULLs get bucket NULL."""
    if n_buckets < 2:
        raise ValueError(f"need n_buckets >= 2 (got {n_buckets})")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    b = df.agg(*[F.percentile(F.col(col), F.lit(q)).alias(f"__q{i}")
                 for i, q in enumerate(qs)])
    expr = F.lit(0)
    for i in range(len(qs)):
        expr = F.when(F.col(col) >= F.col(f"__q{i}"), i + 1) \
            .otherwise(expr)
    expr = F.when(F.col(col).isNotNull(), expr)
    return (df.crossJoin(F.broadcast(b))
            .withColumn(name, expr.cast("int"))
            .drop(*[f"__q{i}" for i in range(len(qs))]))


def corpus_report(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """One-row corpus data card: document/token totals, token-length
    spread, and the exact-duplicate rate — the numbers a dataset release
    publishes (datasheet/data-card practice).

    Returns (n_docs, total_tokens, mean_tokens, p50_tokens, p95_tokens,
    distinct_texts, dup_ratio).

    Scale: one pass for the token stats; `distinct_texts` is an exact
    count distinct over the md5 content fingerprint (its own shuffle —
    swap `F.approx_count_distinct` for the sketched one-pass form at
    100 TB; exact is the oracle path). The percentiles are exact
    (`F.percentile`) for the same reason — `approx_percentile` is the
    same-plan sketched swap."""
    from juliadb_jl_spark.functions.text import fingerprint, token_count
    nt = token_count(F.col(text_col))
    fp = fingerprint(F.col(text_col))
    return (df.select(F.col(id_col), nt.alias("__nt"), fp.alias("__fp"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__nt").alias("total_tokens"),
                 F.avg("__nt").alias("mean_tokens"),
                 F.percentile(F.col("__nt"), F.lit(0.5)).alias("p50_tokens"),
                 F.percentile(F.col("__nt"), F.lit(0.95)).alias("p95_tokens"),
                 F.countDistinct("__fp").alias("distinct_texts"))
            .withColumn("dup_ratio",
                        1.0 - F.col("distinct_texts") / F.col("n_docs")))


def corpus_breakdown(df: DataFrame, key_col: str, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-group slice of the data card: (key, n_docs, total_tokens,
    doc_share, token_share) — the mixture table a sampling policy
    (temperature_rates, downsample_sources) consumes.

    Scale: one groupBy on the key (map-side combinable); the grand
    totals ride a broadcast single-row cross-join, so nothing but the
    group table moves."""
    from juliadb_jl_spark.functions.text import token_count
    g = (df.select(F.col(key_col).alias("key"),
                   token_count(F.col(text_col)).alias("__nt"))
         .groupBy("key")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("__nt").alias("total_tokens")))
    tot = g.agg(F.sum("n_docs").alias("__d"),
                F.sum("total_tokens").alias("__t"))
    return (g.crossJoin(F.broadcast(tot))
            .select("key", "n_docs", "total_tokens",
                    (F.col("n_docs") / F.col("__d")).alias("doc_share"),
                    (F.col("total_tokens") / F.col("__t"))
                    .alias("token_share")))


# ---------------------------------------------------------------------------
# Release engineering: snapshot diff, funnel audit, split-leakage
# ---------------------------------------------------------------------------


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Diff two corpus snapshots (dataset versions) by document id:
    every id present in either snapshot is classified as
    `added` (only in new), `removed` (only in old), `changed` (both,
    content fingerprint differs) or `unchanged` — the audit a versioned
    dataset release publishes between crawls. Ids are assumed unique
    within each snapshot (the release invariant `dedup_exact`
    guarantees); duplicate ids would multiply through the join like
    any keyed diff.

    Returns (id_col, status) with status in
    {added, removed, changed, unchanged}.

    Scale (100 TB): both sides project to (id, md5-of-raw-text) BEFORE
    the join, so document text never crosses an exchange — only ids
    plus 32-hex fingerprints move. The full-outer join hash-partitions
    both snapshots on the id; snapshots persisted bucketed on the id
    (`sources.parquet.save_bucketed`) join with no exchange at all."""
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    o = old.select(F.col(id_col), fp.alias("__fp_old"))
    n = new.select(F.col(id_col), fp.alias("__fp_new"))
    j = o.join(n, id_col, "full_outer")
    status = (F.when(F.col("__fp_old").isNull(), F.lit("added"))
              .when(F.col("__fp_new").isNull(), F.lit("removed"))
              .when(F.col("__fp_old") == F.col("__fp_new"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(F.col(id_col), status.alias("status"))


def corpus_diff_report(old: DataFrame, new: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """One-row rollup of `corpus_diff`: (n_added, n_removed, n_changed,
    n_unchanged, n_old, n_new) — the headline numbers of a release
    changelog. Same plan as `corpus_diff` plus one count aggregation."""
    d = corpus_diff(old, new, id_col, text_col)
    c = lambda s: F.sum((F.col("status") == s).cast("long")).alias(f"n_{s}")
    return (d.agg(c("added"), c("removed"), c("changed"), c("unchanged"))
            .withColumn("n_old", F.col("n_removed") + F.col("n_changed")
                        + F.col("n_unchanged"))
            .withColumn("n_new", F.col("n_added") + F.col("n_changed")
                        + F.col("n_unchanged")))


def curation_funnel(df: DataFrame, stages: list[tuple[str, Column]],
                    token_col: Column | None = None,
                    by: str | None = None) -> DataFrame:
    """Staged-filter attrition report: `stages` is the ORDERED list of
    (name, keep-predicate) a curation pipeline applies; the funnel
    reports, per stage, how many documents (and optionally tokens)
    enter, survive, and drop — cumulative, i.e. stage i counts only
    rows that passed stages 0..i-1. This is the per-release audit
    table every pipeline publishes (what C4/Gopher/RefinedWeb report
    as their filter cascades). With `by=` the funnel is computed PER
    GROUP (e.g. per crawl source — which source fails which filter).

    Returns one row per stage (per group) plus a leading `ingest` row:
    ([by,] stage_idx, stage, docs_in, docs_kept, docs_dropped
    [, tokens_kept]).

    Scale (100 TB): ONE corpus pass — every cumulative predicate is a
    native boolean column and all 2·n_stages conditional sums ride a
    single aggregation (map-side combined; global one-row result, or
    group-count-sized with `by=`); the per-stage rows are inlined from
    that row with no further job. NULL predicate values count as drops
    (a row that can't be judged doesn't survive)."""
    if not stages:
        raise ValueError("need at least one (name, predicate) stage")
    cums, cum = [], F.lit(True)
    for _, pred in stages:
        cum = cum & F.coalesce(pred, F.lit(False))
        cums.append(cum)
    aggs = [F.count(F.lit(1)).alias("__n0")]
    for i, c in enumerate(cums):
        aggs.append(F.sum(c.cast("long")).alias(f"__k{i}"))
        if token_col is not None:
            aggs.append(F.sum(F.when(c, token_col).otherwise(F.lit(0)))
                        .alias(f"__t{i}"))
    if token_col is not None:
        aggs.append(F.sum(token_col).alias("__t_in"))
    row = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)

    def stage_struct(i: int, name: str):
        docs_in = F.col("__n0") if i == 0 else F.col(f"__k{i - 1}")
        kept = F.col(f"__k{i}")
        fields = [F.lit(i + 1).cast("long").alias("stage_idx"),
                  F.lit(name).alias("stage"),
                  docs_in.alias("docs_in"), kept.alias("docs_kept"),
                  (docs_in - kept).alias("docs_dropped")]
        if token_col is not None:
            fields.append(F.col(f"__t{i}").cast("long")
                          .alias("tokens_kept"))
        return F.struct(*fields)

    ingest_fields = [F.lit(0).cast("long").alias("stage_idx"),
                     F.lit("ingest").alias("stage"),
                     F.col("__n0").alias("docs_in"),
                     F.col("__n0").alias("docs_kept"),
                     F.lit(0).cast("long").alias("docs_dropped")]
    if token_col is not None:
        ingest_fields.append(F.col("__t_in").cast("long")
                             .alias("tokens_kept"))
    rows = [F.struct(*ingest_fields)]
    rows += [stage_struct(i, name) for i, (name, _) in enumerate(stages)]
    inlined = F.inline(F.array(*rows))
    return row.select(by, inlined) if by else row.select(inlined)


def apply_funnel(df: DataFrame,
                 stages: list[tuple[str, Column]]) -> DataFrame:
    """Apply the same ordered stage predicates `curation_funnel`
    audits: rows surviving EVERY stage (NULLs drop, matching the
    funnel's accounting). Pure conjunctive filter — zero shuffle."""
    cum = F.lit(True)
    for _, pred in stages:
        cum = cum & F.coalesce(pred, F.lit(False))
    return df.filter(cum)


# split-size hint cache for split_leakage: plan semanticHash →
# (n_eval, n_train, eval_chars). Perf-only (drives spread and tier
# decisions); stale entries cannot change output — same contract and
# caveats as dedup._DUP_STATS_MEMO (call-site note there).
_SPLIT_SIZE_MEMO: dict[tuple, tuple[int, int, int]] = {}

# split_leakage's measured tier boundaries on the estimated eval char
# volume (SCALING.md "split_leakage: one ladder"), and the fused tier's
# cap on collected eval-gram rows, past which it falls back to shuffle.
_FUSED_MAX_CHARS = 512 * 1024
_BROADCAST_MAX_CHARS = 32 * 1024 * 1024
_FUSED_MAX_EVAL_GRAMS = 1 << 20


def split_leakage(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", split_col: str = "split",
                  train: str = "train", n: int = 5) -> DataFrame:
    """Train→eval leakage report for an already-split corpus: for every
    NON-train document, the fraction of its distinct word n-grams that
    also occur in the train split (the within-release version of
    benchmark decontamination — run it before publishing a split).

    Returns (id_col, split_col, n_grams, n_hits, contamination), one row
    per (id, split); a repeated (id, split) sums its rows' counts.

    Scale (100 TB): only train grams that ALSO occur in the eval split
    can score, so whenever the eval gram set is small enough to ship,
    the corpus-sized train gram stream is pruned against it before any
    train-side exchange. Every tier scores on a 128-bit hashed gram key
    (two 64-bit lanes; gram text never crosses an exchange or a driver
    collect). The tier follows the eval split's char volume, estimated
    as n_eval × a 2000-doc length sample and memoized with the counts:

    - ≤ 512 KB, fused: job 1 streams the eval split and collects each
      row's distinct gram keys; job 2 streams the train split and tests
      every train gram key against the task-broadcast eval key set
      before emitting, so only matching keys cross the Arrow boundary.
      Scoring is driver-local. The collect is capped; on overflow the
      call falls back to the shuffle tier.
    - ≤ 32 MB, broadcast: train keys are left-semi joined against the
      broadcast distinct eval keys; the pruned bench is broadcast too.
    - larger, shuffle: corpus-vs-corpus — both sides hash-partition on
      the key and the bench join is pinned to sort-merge.

    The tiers agree up to a 2⁻¹²⁸-scale key collision on natural text
    (non-cryptographic lanes); differential tests pin them together."""
    return _split_leakage(df, id_col, text_col, split_col, train, n)


def _split_leakage(df: DataFrame, id_col: str, text_col: str,
                   split_col: str, train: str, n: int,
                   tier: str | None = None) -> DataFrame:
    """`split_leakage` with `tier` ("fused", "broadcast" or "shuffle")
    forced in place of the size-picked one — how tests reach every tier
    on small data. Sizing, memo and overflow fallback are unchanged."""
    is_train = F.col(split_col) == train
    # Sizing: ONE counting pass column-pruned to split_col plus an
    # early-stopping 2000-row length sample, so neither job reads the
    # full text at corpus scale. Memoized on the plan's semantic hash
    # (the dedup._DUP_STATS_MEMO pattern: a stale hit cannot change
    # output). The counts also size each side's spread below.
    memo_key = None
    try:
        memo_key = (df.semanticHash(), split_col, train, text_col)
    except Exception:
        pass
    sizes = _SPLIT_SIZE_MEMO.get(memo_key) if memo_key else None
    if sizes is None:
        cnt = {r["__t"]: r["count"] for r in
               df.groupBy(is_train.alias("__t")).count().collect()}
        n_ev, n_tr = cnt.get(False, 0), cnt.get(True, 0)
        samp = (df.filter(~is_train)
                .select(F.length(F.coalesce(F.col(text_col), F.lit("")))
                        .alias("__l"))
                .limit(2000).agg(F.avg("__l")).first()[0]) if n_ev else 0
        sizes = (n_ev, n_tr, int((samp or 0) * n_ev))
        if memo_key is not None:
            if len(_SPLIT_SIZE_MEMO) > 256:
                _SPLIT_SIZE_MEMO.clear()
            _SPLIT_SIZE_MEMO[memo_key] = sizes
    n_ev, n_tr, ev_chars = sizes
    if tier is None:
        tier = ("fused" if ev_chars <= _FUSED_MAX_CHARS else
                "broadcast" if ev_chars <= _BROADCAST_MAX_CHARS else
                "shuffle")
    par = df.sparkSession.sparkContext.defaultParallelism

    # Per-task doc budget: ~300 µs/doc of string-built Python gram work
    # (→ 4000 docs ≈ 1.2 s, well above the exchange+stage overhead an
    # extra task buys back); the fused tier's lane-vectorized pass
    # measured ~120 µs/doc (r10), so it tolerates 10k. A side that fits
    # one task skips its exchange; filters sit BELOW the spread, so a
    # job exchanges only its own split's text.
    def _nparts(rows, per_task):
        return 1 if rows <= per_task else min(par, -(-rows // per_task))

    def _side(flt, rows, per_task):
        p = _nparts(rows, per_task)
        return df.filter(flt) if p == 1 else df.filter(flt).repartition(p)

    if tier == "fused":
        out = _fused_leakage(df, id_col, text_col, split_col, n,
                             _side(~is_train, n_ev, 10_000),
                             _side(is_train, n_tr, 10_000),
                             _nparts(n_ev, 10_000), _nparts(n_tr, 10_000))
        if out is not None:
            return out
    # Hashed-key tail (broadcast, shuffle, fused overflow): two seeded
    # xxhash64 lanes of the fused-Arrow gram strings — 16 fixed bytes per
    # gram through every join, distinct and exchange. NULL lanes keep
    # zero-gram eval docs visible (xxhash64 of NULL is the seed
    # constant). Hashing JVM-side is deliberate: lanes built in the Arrow
    # pass measured ~1.8× slower here (SCALING.md §docs-rung, r8).
    ev, tr = _side(~is_train, n_ev, 4_000), _side(is_train, n_tr, 4_000)
    keys = ["__h1", "__h2"]
    ev_g = ev.select(F.col(id_col), F.col(split_col), F.explode_outer(
        F.array_distinct(arrow_shingles(F.col(text_col), n))).alias("__g"))
    ev_h = ev_g.select(id_col, split_col, *[
        F.when(F.col("__g").isNotNull(), F.xxhash64("__g", F.lit(s)))
        .alias(k) for s, k in enumerate(keys, 1)])
    tr_h = tr.select(F.explode(F.array_distinct(
        arrow_shingles(F.col(text_col), n))).alias("__g")).select(
        *[F.xxhash64("__g", F.lit(s)).alias(k)
          for s, k in enumerate(keys, 1)])
    if tier == "broadcast":
        ev_keys = ev_h.filter(F.col("__h1").isNotNull()).select(*keys)
        tr_h = tr_h.join(F.broadcast(ev_keys.distinct()), keys, "left_semi")
    bench = tr_h.distinct().withColumn("__hit", F.lit(1))
    # broadcast: the pruned bench ⊆ the eval key set, which broadcast
    # already. Otherwise Catalyst's static size estimate under a
    # pandas-UDF gram build is fiction — without a hint the planner
    # broadcast a 6.5 GiB unpruned train-gram set at the 5M-doc rung —
    # so pin the sort-merge join; AQE still splits skewed keys.
    bench = F.broadcast(bench) if tier == "broadcast" \
        else bench.hint("merge")
    n_grams = F.sum(F.col("__h1").isNotNull().cast("long"))
    n_hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
    return (ev_h.join(bench, keys, "left").groupBy(id_col, split_col)
            .agg(n_grams.alias("n_grams"), n_hits.alias("n_hits"))
            .withColumn("contamination",
                        F.when(F.col("n_grams") > 0,
                               F.col("n_hits") / F.col("n_grams"))
                        .otherwise(F.lit(0.0))))


def _fused_leakage(df, id_col, text_col, split_col, n, ev, tr,
                   ev_parts, tr_parts):
    """split_leakage's fused tier, or None when the eval gram keys
    overflow `_FUSED_MAX_EVAL_GRAMS`. Keys are `_kernels.gram_keys`'
    128-bit lanes, deduped per row in the Arrow pass; the train-side
    test is `_kernels.candidate_hits`."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T

    from juliadb_jl_spark.functions.text import tokens
    # The per-task cap bounds the transient driver collect on the
    # overflow path; a skew-induced false overflow only costs speed.
    cap = max(_FUSED_MAX_EVAL_GRAMS // ev_parts, 50_000)
    ev_schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("__split", df.schema[split_col].dataType),
        T.StructField("__h1", T.LongType()),
        T.StructField("__h2", T.LongType()),
        T.StructField("__m", T.IntegerType())])

    def _eval_doc_grams(it):
        # Job 1: one row per (eval row, distinct gram key). The long
        # columns carry NO nulls (a nullable int64 degrades to float64
        # in toPandas and would corrupt hashes above 2⁵³), so a
        # zero-gram row rides an __m=0 marker and overflow an __m=-1
        # sentinel.
        emitted = 0
        for rb in it:
            nwin, _, h1, h2 = K.gram_keys(K.tokens_of(rb.column(2)), n)
            doc, h1, h2 = K.doc_unique(K.row_index(nwin), h1, h2)
            emitted += len(doc)
            if emitted > cap:
                doc, h1, h2 = doc[:1], h1[:0], h2[:0]
                m = np.full(1, -1, dtype=np.int32)
            else:
                empty = np.flatnonzero(
                    np.bincount(doc, minlength=rb.num_rows) == 0)
                doc = np.concatenate([doc, empty])
                m = (np.arange(len(doc)) < len(h1)).astype(np.int32)
            pad = np.zeros(len(doc) - len(h1), dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(pa.array(doc)),
                 rb.column(1).take(pa.array(doc)),
                 pa.array(np.concatenate([h1, pad]).view(np.int64)),
                 pa.array(np.concatenate([h2, pad]).view(np.int64)),
                 pa.array(m)], names=ev_schema.fieldNames())
            if emitted > cap:
                return

    ev_pdf = ev.select(
        F.col(id_col).alias("__id"), F.col(split_col).alias("__split"),
        tokens(F.col(text_col)).alias("__toks")).mapInArrow(
        _eval_doc_grams, ev_schema).toPandas()
    if (ev_pdf["__m"] == -1).any() or len(ev_pdf) > _FUSED_MAX_EVAL_GRAMS:
        return None
    # per-(id, split) key LISTS, not sets: each row adds its own distinct
    # grams, exactly as the hashed tail's groupBy(id, split) sums them
    docs: dict = {}
    for di, sp_, a1, a2, m_ in zip(*(ev_pdf[c] for c in ev_pdf.columns)):
        ks = docs.setdefault((di, sp_), [])
        if m_ > 0:
            ks.append((int(a1), int(a2)))
    se = {k for ks in docs.values() for k in ks}
    bc_se = df.sparkSession.sparkContext.broadcast((np.sort(np.fromiter(
        (k[0] for k in se), dtype=np.int64, count=len(se))),
        frozenset(se)))

    def _matched(it):
        # Job 2: only candidate keys (task-deduped, ⊆ S_e) cross the
        # Arrow boundary.
        cand, seen = bc_se.value, set()
        for rb in it:
            _, _, h1, h2 = K.gram_keys(K.tokens_of(rb.column(0)), n)
            s1, s2 = h1.view(np.int64), h2.view(np.int64)
            sel = K.candidate_hits(s1, s2, cand, seen)
            if len(sel):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(s1[sel]), pa.array(s2[sel])],
                    names=["__h1", "__h2"])

    m = tr.select(tokens(F.col(text_col)).alias("__toks")) \
        .mapInArrow(_matched, "__h1 long, __h2 long")
    # per-task dedup is global only for a single-task train side;
    # otherwise dedup JVM-side, bounding the collect by |S_e|
    hits = (m.distinct() if tr_parts > 1 else m).toPandas()
    h = frozenset(zip(map(int, hits["__h1"]), map(int, hits["__h2"])))
    rows = []
    for (di, sp_), ks in docs.items():
        nh = sum(1 for k in ks if k in h)
        # numpy scalars from pandas → plain Python for createDataFrame
        rows.append((di.item() if hasattr(di, "item") else di,
                     sp_.item() if hasattr(sp_, "item") else sp_,
                     len(ks), nh, nh / len(ks) if ks else 0.0))
    # Arrow-backed local result (r9): a list-of-tuples createDataFrame
    # runs through a pickled Python RDD — a Python worker per slice on
    # every downstream action (0.62 s / 8.5 CPU-s per action at sf0.1
    # vs 0.16 s / 0.5 CPU-s as a JVM-local Arrow relation).
    res = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField(split_col, df.schema[split_col].dataType),
        T.StructField("n_grams", T.LongType()),
        T.StructField("n_hits", T.LongType()),
        T.StructField("contamination", T.DoubleType())])
    return df.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=res.fieldNames()), res)


def leakage_attribution(train: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 5, df_cap: int = 1000) -> DataFrame:
    """For each eval document that leaks, WHICH train document leaked:
    the top train culprit by shared distinct-n-gram count (ties → min
    train id). The debugging step after `split_leakage` flags a split:
    attribution tells you whether the leak is one near-duplicate
    (drop it) or diffuse boilerplate (fix the filters).

    Returns (eval_id, train_id, shared_grams) — one row per eval doc
    that shares ≥1 counted gram.

    Scale (100 TB): the train-gram table (corpus-sized) crosses exactly
    ONE exchange. It is first semi-joined to the eval split's distinct
    gram set — the eval split is the small factor, so the matched slice
    is at most eval-sized×df — and the per-gram train document
    frequency is then computed on that slice with a window that REUSES
    the semi-join's gram partitioning (no second train-side exchange;
    df on the matched slice equals the full train df for those grams
    because the semi-join keeps every train row of a matched gram).
    Grams occurring in more than `df_cap` TRAIN documents are excluded
    from attribution: a boilerplate gram shared by millions of train
    docs would otherwise blow the pair count out quadratically while
    carrying no attribution signal — the same hot-key guard as the
    shingle `df_cap` in near-dup detection. The final eval⋈train join
    and the pair count also run inside the same gram partitioning."""
    from pyspark.sql import Window

    from juliadb_jl_spark.functions.dedup import _spread
    tg = _spread(train).select(
        F.col(id_col).alias("train_id"),
        F.explode(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("__g"))
    eg = _spread(eval_df).select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("__g"))
    egs = eg.select("__g").distinct()
    tgm = tg.join(egs, "__g", "left_semi")
    tgk = (tgm.withColumn("__df",
                          F.count(F.lit(1))
                          .over(Window.partitionBy("__g")))
           .filter(F.col("__df") <= df_cap).drop("__df"))
    pairs = (eg.join(tgk, "__g")
             .groupBy("eval_id", "train_id")
             .agg(F.count(F.lit(1)).alias("shared_grams")))
    # Tie-break on min train_id WITHOUT negating the id: negation casts
    # string ids (URLs, hashes) to double -> NULL. Negate the count
    # (always numeric) instead and take the struct MIN.
    best = F.min(F.struct((-F.col("shared_grams")).alias("__ng"),
                          F.col("train_id"))).alias("__b")
    return (pairs.groupBy("eval_id").agg(best)
            .select("eval_id", F.col("__b.train_id").alias("train_id"),
                    (-F.col("__b.__ng")).alias("shared_grams")))


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level diff between two dataset versions: every column in
    either schema classified `added` / `removed` / `type_changed` /
    `unchanged` — the schema half of a release changelog (corpus_diff
    covers the rows). Pure metadata: no job runs; the result is a
    local one-row-per-column DataFrame."""
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(set(o) | set(n)):
        if c not in n:
            status = "removed"
        elif c not in o:
            status = "added"
        elif o[c] != n[c]:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((c, status, o.get(c), n.get(c)))
    return old.sparkSession.createDataFrame(
        rows, "column string, status string, old_type string, "
              "new_type string")


def attribution_index(train: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 5) -> DataFrame:
    """The persisted form of `leakage_attribution`'s train side: the
    (gram, train_id) table of every train document's distinct word
    n-grams. Build it ONCE per release (one corpus explode), persist
    it bucketed on the gram via
    `incremental.save_index_bucketed(kind="attribution")`, and every
    later audit (`leakage_attribution_against`) costs eval-sized work
    instead of re-grammifying the corpus — the same index-once /
    probe-forever shape as the dedup indexes."""
    from juliadb_jl_spark.functions.dedup import _spread
    return _spread(train).select(
        F.explode(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("gram"),
        F.col(id_col).alias("train_id"))


def leakage_attribution_against(eval_df: DataFrame, index: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text", n: int = 5,
                                df_cap: int = 1000) -> DataFrame:
    """`leakage_attribution` against a persisted `attribution_index`:
    the train corpus is NEVER re-grammified — the index is semi-joined
    to the eval split's distinct gram set, the per-gram train df rides
    a window on that matched slice (equal to the full train df for
    those grams), and the hot-gram `df_cap` guard applies as in the
    one-shot form. With the index persisted bucketed on the gram, the
    index side crosses NO exchange (plan-asserted); everything else is
    eval-sized. `n` must match the index's build-time n."""
    from pyspark.sql import Window

    from juliadb_jl_spark.functions.dedup import _spread
    eg = _spread(eval_df).select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(arrow_shingles(F.col(text_col), n)))
        .alias("gram"))
    egs = eg.select("gram").distinct()
    tgm = index.join(egs, "gram", "left_semi")
    tgk = (tgm.withColumn("__df",
                          F.count(F.lit(1))
                          .over(Window.partitionBy("gram")))
           .filter(F.col("__df") <= df_cap).drop("__df"))
    pairs = (eg.join(tgk, "gram")
             .groupBy("eval_id", "train_id")
             .agg(F.count(F.lit(1)).alias("shared_grams")))
    # Tie-break on min train_id WITHOUT negating the id: negation casts
    # string ids (URLs, hashes) to double -> NULL. Negate the count
    # (always numeric) instead and take the struct MIN.
    best = F.min(F.struct((-F.col("shared_grams")).alias("__ng"),
                          F.col("train_id"))).alias("__b")
    return (pairs.groupBy("eval_id").agg(best)
            .select("eval_id", F.col("__b.train_id").alias("train_id"),
                    (-F.col("__b.__ng")).alias("shared_grams")))


def write_release_manifest(df: DataFrame, path: str,
                           prev: DataFrame | None = None,
                           stages: list[tuple[str, Column]] | None = None,
                           breakdown_key: str | None = None,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> None:
    """Persist the release artifact a dataset version ships alongside
    its data: the one-row data card (`corpus_report`), optionally the
    per-key mixture table (`corpus_breakdown`), the filter-cascade
    funnel (`curation_funnel`), and the changelog vs the previous
    release (`corpus_diff_report` + `schema_diff`) — each as a parquet
    table under `path/<name>`. Mirrors the engine's other artifact
    conventions (centroids_save, model_save, bpe_save).

    Scale: every component is corpus-pass-or-cheaper with
    stage-rows/group-count-sized outputs; writing them is the cost of
    the audits a release publishes anyway."""
    def w(out: DataFrame, name: str) -> None:
        out.coalesce(1).write.mode("overwrite") \
            .parquet(f"{path}/{name}")

    w(corpus_report(df, id_col=id_col, text_col=text_col), "report")
    if breakdown_key is not None:
        w(corpus_breakdown(df, breakdown_key, id_col=id_col,
                           text_col=text_col), "breakdown")
    if stages:
        w(curation_funnel(df, stages), "funnel")
    if prev is not None:
        w(corpus_diff_report(prev, df, id_col=id_col,
                             text_col=text_col), "changelog")
        w(schema_diff(prev, df), "schema_changes")


def read_release_manifest(spark, path: str) -> dict[str, DataFrame]:
    """Reopen a `write_release_manifest` artifact as {name: DataFrame}
    for whichever components were written."""
    import os as _os
    out = {}
    for name in ("report", "breakdown", "funnel", "changelog",
                 "schema_changes"):
        p = f"{path}/{name}"
        if _os.path.isdir(p):
            out[name] = spark.read.parquet(p)
    return out
