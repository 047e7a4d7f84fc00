"""Off-Spark micro-benchmark of the text kernels: µs per document.

Usage:
    python tools/kernel_bench.py <documents.parquet> [--repeats N]

Reads a `documents` table (the sf0.1 one has 5,000 docs), tokenizes it in Python the way `text.tokens` does on the JVM (trim
spaces, split on Java's ``\\s+``), and times each kernel twice on the
whole table as one batch: the per-doc Python form kept in
tests/kernel_refs.py against the Arrow-buffer kernel over
functions/_kernels.py.  Prints one markdown row per kernel with the
median of N runs (default 5).  Kernel compute only: neither side pays
the Arrow↔pandas conversion a Spark UDF adds.
"""
from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text):
    t = (text or "").strip(" ")
    return _SPLIT.split(t) if t else []


def _median_us(fn, arg, repeats, n_docs):
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_docs * 1e6


def main() -> None:
    args = sys.argv[1:]
    repeats = 5
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 1 or args[0] in ("-h", "--help"):
        print(__doc__)
        sys.exit(0 if args in (["-h"], ["--help"]) else 2)
    path = args[0]

    import pyarrow as pa
    import pyarrow.parquet as pq

    from juliadb_jl_spark.functions import _kernels as K
    from juliadb_jl_spark.functions import dedup as D
    from juliadb_jl_spark.functions import dsir as S
    from juliadb_jl_spark.functions import text as T
    from tests import kernel_refs as R

    texts = pq.read_table(path, columns=["text"]).column(0).to_pylist()
    lists = [_tokens(t) for t in texts]
    col = pa.array(lists, pa.list_(pa.string()))
    sets = [list(dict.fromkeys(g)) for g in R.gram_join(lists, 3)]
    sets_col = pa.array(sets, pa.list_(pa.string()))
    ids = list(range(len(lists)))

    def keys_new(c):
        nwin, _, h1, h2 = K.gram_keys(K.tokens_of(c), 5)
        return K.doc_unique(K.row_index(nwin), h1, h2)

    def phrases_new(c):
        t = K.tokens_of(c, drop_empty=True)
        _, g, _, _ = K.gram_keys(t, 3)
        return K.slice_strings(t.buf, t.st[g], t.en[g + 2])

    cases = [
        ("crc32perm signature from tokens (k=3, 32 hashes)",
         lambda c: R.crcperm_fused(c, 3, 32),
         lambda c: D._crcperm_from_tokens(c, 3, 32), lists, col),
        ("crc32perm signature from sets (32 hashes)",
         lambda c: R.crcperm_sets(c, 32),
         lambda c: D._crcperm_from_sets(c, 32), sets, sets_col),
        ("portable signature from sets (32 hashes)",
         lambda c: R.portable_sets(c, 32),
         lambda c: D._portable_from_sets(c, 32), sets, sets_col),
        ("arrow_shingles (k=3)",
         lambda c: R.gram_join(c, 3), lambda c: T._gram_strings(c, 3),
         lists, col),
        ("window fps hex (k=5)",
         lambda c: R.window_fps(c, 5, "hex"),
         lambda c: D._window_fps_batch(c, 5, "hex"), lists, col),
        ("window fps u64 (k=5)",
         lambda c: R.window_fps(c, 5, "u64"),
         lambda c: D._window_fps_batch(c, 5, "u64"), lists, col),
        ("window fp set (k=5)",
         lambda c: R.window_fp_set(c, 5),
         lambda c: D._window_fp_set_batch(c, 5), lists, col),
        ("winnow selection (k=5, w=4)",
         lambda c: R.winnow_select(c, 5, 4),
         lambda c: D._winnow_batch(c, 5, 4), lists, col),
        ("distinct gram count (n=5)",
         lambda c: R.distinct_gram_count(c, 5),
         lambda c: T._distinct_gram_count(c, 5, False), lists, col),
        ("per-doc gram keys (n=5)",
         lambda c: R.doc_keys(ids, c, 5), keys_new, lists, col),
        ("phrase recovery (n=3)",
         lambda c: R.phrases(c, 3), phrases_new, lists, col),
        ("DSIR histogram xxhash64 (256 buckets)",
         lambda c: R.doc_histograms(c, 256, 1, True, "xxhash64"),
         lambda c: S._doc_histograms(c, 256, 1, True, "xxhash64"),
         lists, col),
        ("DSIR histogram portable (256 buckets)",
         lambda c: R.doc_histograms(c, 256, 1, True, "portable"),
         lambda c: S._doc_histograms(c, 256, 1, True, "portable"),
         lists, col),
    ]
    n = len(lists)
    print(f"{n} docs, {sum(map(len, lists))} tokens, median of {repeats}")
    print("| kernel | per-doc reference µs/doc | kernel µs/doc | ratio |")
    print("|---|---:|---:|---:|")
    for name, old, new, old_arg, new_arg in cases:
        o = _median_us(old, old_arg, repeats, n)
        w = _median_us(new, new_arg, repeats, n)
        print(f"| {name} | {o:.1f} | {w:.1f} | {o / w:.1f}× |")


if __name__ == "__main__":
    main()
