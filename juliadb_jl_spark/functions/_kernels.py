"""Per-batch text kernels over Arrow buffers, shared by every fused text UDF.

A batch of token lists (``tokens(text)``, an Arrow ``ListArray<string>``)
is read straight from its buffers: list offsets, string offsets and the
UTF-8 data.  `tokens_of` turns them into one byte buffer in which every
token is followed by a single space, so tokens i..j of one document are
``buf[st[i]:en[j]]`` == ``" ".join(toks[i:j + 1]).encode()`` — the bytes
`shingles()` hashes on the JVM.  Window ranges, per-doc reduces and the
output arrays are built for the whole batch in numpy; the only Python
loops left make one C hash call (zlib.crc32, md5) per token or window.

`arrow_kernel` turns a kernel ``fn(col: pa.Array, *params) -> pa.Array``
into a memoized, fenced ``arrow_udf``; ``mapInArrow`` sites call the
kernels from their batch functions directly.
"""
from typing import NamedTuple
from zlib import crc32

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

try:
    # CPython's built-in md5: ~0.3 µs per short slice against ~0.6 µs
    # through hashlib's OpenSSL constructor (same digest)
    from _md5 import md5
except ImportError:  # pragma: no cover
    from hashlib import md5

_P31 = 2147483647
# 1 << 22 output bytes per gather step: bounds the int64 index temp
_GATHER_STEP = 1 << 22


class Tokens(NamedTuple):
    ntok: np.ndarray   # per-row token count, 0 for a NULL row
    buf: np.ndarray    # uint8: each token's UTF-8 bytes, then b" "
    st: np.ndarray     # token i is buf[st[i]:en[i]]
    en: np.ndarray


def string_parts(arr: pa.Array):
    """(uint8 data, int64 offsets from 0) of a string/binary array, its
    slice offset applied (``.values``/``.buffers()`` ignore it)."""
    wide = (pa.types.is_large_string(arr.type)
            or pa.types.is_large_binary(arr.type))
    ot = np.dtype(np.int64 if wide else np.int32)
    bufs = arr.buffers()
    if len(arr) == 0 or bufs[1] is None:
        return np.empty(0, np.uint8), np.zeros(len(arr) + 1, np.int64)
    off = np.frombuffer(bufs[1], dtype=ot, count=len(arr) + 1,
                        offset=arr.offset * ot.itemsize).astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
            else np.empty(0, np.uint8))[off[0]:off[-1]]
    return data, off - off[0]


def list_lengths(col: pa.Array) -> np.ndarray:
    """Per-row list length, 0 for a NULL row."""
    return pc.list_value_length(col).fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)


def tokens_of(col: pa.Array, drop_empty: bool = False) -> Tokens:
    """The batch's tokens as one space-suffixed buffer plus token byte
    ranges; ``drop_empty`` leaves out empty tokens (word_freqs' rule)."""
    ntok = list_lengths(col)
    data, off = string_parts(col.flatten())
    st, tl = off[:-1], np.diff(off)
    if drop_empty and not tl.all():
        keep = tl > 0
        tdoc = np.repeat(np.arange(len(ntok)), ntok)
        ntok = np.bincount(tdoc[keep], minlength=len(ntok))
        st, tl = st[keep], tl[keep]
    buf = np.insert(data, st + tl, np.uint8(32))
    st = st + np.arange(len(st))
    return Tokens(ntok, buf, st, st + tl)


def windows(ntok: np.ndarray, k: int):
    """(nwin, g): per-row count of k-token windows and each window's
    first-token index into the batch's token arrays."""
    nwin = np.maximum(ntok - k + 1, 0)
    tok0 = np.cumsum(ntok) - ntok
    win0 = np.cumsum(nwin) - nwin
    return nwin, np.repeat(tok0 - win0, nwin) + np.arange(nwin.sum())


def window_ranges(t: Tokens, k: int):
    """(nwin, starts, ends): byte range of every k-token window."""
    nwin, g = windows(t.ntok, k)
    return nwin, t.st[g], t.en[g + k - 1]


def row_index(counts: np.ndarray) -> np.ndarray:
    """The row each of ``counts.sum()`` flat items belongs to."""
    return np.repeat(np.arange(len(counts)), counts)


def positions(counts: np.ndarray) -> np.ndarray:
    """1-based position of each flat item within its row (int32)."""
    first = np.cumsum(counts) - counts
    return (np.arange(counts.sum()) - np.repeat(first, counts) + 1) \
        .astype(np.int32)


def crc_slices(buf: np.ndarray, st, en) -> np.ndarray:
    """zlib.crc32 of every ``buf[st[i]:en[i]]`` (int64) — bit-identical
    to the JVM's java.util.zip.CRC32 behind `F.crc32`."""
    b = bytes(buf)
    return np.fromiter((crc32(b[s:e]) for s, e in
                        zip(st.tolist(), en.tolist())),
                       dtype=np.int64, count=len(st))


def md5_slices(buf: np.ndarray, st, en) -> bytes:
    """The 16 raw md5 digest bytes of every slice, concatenated."""
    b = bytes(buf)
    return b"".join([md5(b[s:e]).digest() for s, e in
                     zip(st.tolist(), en.tolist())])


def poly_windows(base: np.ndarray, g: np.ndarray, k: int,
                 mult: int) -> np.ndarray:
    """Σ_j base[g+j]·mult^(k-1-j) mod 2^64 for each window start g: the
    sliding polynomial over per-token hash bases (uint64 wraparound)."""
    if not len(g):
        return np.empty(0, np.uint64)
    pw = np.array([pow(mult, k - 1 - j, 1 << 64) for j in range(k)],
                  dtype=np.uint64)
    sw = np.lib.stride_tricks.sliding_window_view(base, k)
    with np.errstate(over="ignore"):
        return (sw[g] * pw).sum(axis=1, dtype=np.uint64)


# 128-bit hashed gram keys (novelty_scores, frequent_phrases,
# split_leakage's fused tier): hash each TOKEN once and derive every gram
# key from the per-token bases with two sliding polynomials — no gram
# string is built.  Distinct grams collide only if two distinct tokens
# collide on the full 64-bit base (~V²/2⁶⁵) or two distinct base
# sequences collide on BOTH lanes (independent odd multipliers, ~2⁻¹²⁸
# heuristic) — the 2×xxhash64 exactness class.  Fixed-n grams are in
# bijection with their joined strings (tokens are whitespace-free), so
# token-sequence identity IS gram identity.
_POLY_A = 1099511628211          # FNV-1a 64-bit prime (odd)
_POLY_B = 6364136223846793005    # Knuth MMIX LCG multiplier (odd)


def gram_keys(t: Tokens, n: int):
    """(nwin, g, h1, h2): per-row gram counts, each gram's first-token
    index and both uint64 key lanes.  Token base = crc32(bytes) in the
    high word, crc32(bytes + b'\\x9e') in the low word (a suffix byte,
    NOT a seeded crc32 — crc is affine in the seed, so same-length
    collisions would survive any seed)."""
    c1 = crc_slices(t.buf, t.st, t.en)
    c2 = np.fromiter((crc32(b"\x9e", c) for c in c1.tolist()),
                     dtype=np.int64, count=len(c1))
    base = (c1.astype(np.uint64) << np.uint64(32)) | c2.astype(np.uint64)
    nwin, g = windows(t.ntok, n)
    return (nwin, g, poly_windows(base, g, n, _POLY_A),
            poly_windows(base, g, n, _POLY_B))


def min_signature(hb: np.ndarray, counts: np.ndarray, a_, b_) -> pa.Array:
    """array<long> MinHash signature per row, NULL for a row with no
    items: segmented per-row minima of (a_i·hb + b_i) mod 2^31-1 over the
    flat base-hash array — one numpy pass + `np.minimum.reduceat` per
    permutation, so the temp is one flat array, never a (hashes × N)
    matrix.  hb < 2^32 and a_i < 2^31, so the product stays under 2^63."""
    present = counts > 0
    nz = counts[present]
    starts = np.cumsum(nz) - nz
    sig = np.empty((len(nz), len(a_)), dtype=np.int64)
    for i in range(len(a_)):
        sig[:, i] = np.minimum.reduceat((a_[i] * hb + b_[i]) % _P31,
                                        starts)
    return list_array(present * len(a_), pa.array(sig.ravel()), ~present)


def doc_unique(doc: np.ndarray, h1: np.ndarray, h2: np.ndarray):
    """Distinct (doc, h1, h2) rows, sorted by doc then by (h1, h2) as
    unsigned — the per-doc distinct gram keys."""
    o = np.lexsort((h2, h1, doc))
    d, a, b = doc[o], h1[o], h2[o]
    keep = np.ones(len(o), dtype=bool)
    keep[1:] = (d[1:] != d[:-1]) | (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    return d[keep], a[keep], b[keep]


def candidate_hits(s1: np.ndarray, s2: np.ndarray, cand, seen: set):
    """Indices of the keys (s1[i], s2[i]) that are in the candidate set
    and not yet in ``seen`` (which they join): ``cand`` is (sorted h1
    array, frozenset of (h1, h2)) — np.isin on the h1 lane is the coarse
    cut, the exact pair set confirms, ``seen`` dedups per task."""
    out = []
    for i in np.nonzero(np.isin(s1, cand[0]))[0].tolist():
        key = (int(s1[i]), int(s2[i]))
        if key in cand[1] and key not in seen:
            seen.add(key)
            out.append(i)
    return np.array(out, dtype=np.int64)


def strings(data: np.ndarray, off: np.ndarray,
            typ: pa.DataType = pa.string()) -> pa.Array:
    """A string/binary array over concatenated data and int64 offsets."""
    if off[-1] >= 1 << 31:
        raise ValueError("batch output exceeds 2 GiB; lower "
                         "spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.Array.from_buffers(
        typ, len(off) - 1,
        [None, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(data)])


def slice_strings(buf: np.ndarray, st: np.ndarray,
                  en: np.ndarray) -> pa.Array:
    """The slices ``buf[st[i]:en[i]]`` as a string array, gathered in
    steps of whole slices so the int64 index temp stays bounded."""
    lens = en - st
    off = np.zeros(len(st) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    out = np.empty(off[-1], dtype=np.uint8)
    cuts = np.searchsorted(off, np.arange(_GATHER_STEP, off[-1],
                                          _GATHER_STEP)).tolist()
    for a, b in zip([0, *cuts], [*cuts, len(st)]):
        if a < b:
            out[off[a]:off[b]] = buf[np.repeat(st[a:b] - off[a:b],
                                               lens[a:b])
                                     + np.arange(off[a], off[b])]
    return strings(out, off)


def fixed_strings(data: bytes, width: int,
                  typ: pa.DataType = pa.string()) -> pa.Array:
    """Equal-width items (hex digests, raw digests) as a string/binary
    array."""
    n = len(data) // width
    return strings(np.frombuffer(data, dtype=np.uint8),
                   np.arange(n + 1, dtype=np.int64) * width, typ)


def list_array(counts: np.ndarray, values: pa.Array,
               null=None) -> pa.Array:
    """ListArray with ``counts[i]`` consecutive values per row; rows
    where ``null`` is True are NULL (from_arrays drops nulls without the
    mask)."""
    off = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=off[1:])
    mask = None if null is None or not np.any(null) else pa.array(null)
    return pa.ListArray.from_arrays(pa.array(off), values, mask=mask)


def struct_of_lists(counts: np.ndarray, **cols: pa.Array) -> pa.Array:
    """struct<name: array<...>, ...> per row, each list ``counts[i]``
    long (never NULL)."""
    return pa.StructArray.from_arrays(
        [list_array(counts, v) for v in cols.values()], names=list(cols))


# Session-keyed UDF wrapper memo: a UserDefinedFunction caches its JVM
# registration after first use, so reusing ONE wrapper across query
# constructions skips ~20-30 synchronous py4j round trips per call site
# per construction.  Keyed on applicationId so a restarted session never
# sees a wrapper bound to a dead JVM; performance-only (the factories are
# pure functions of the key).
_UDF_MEMO: dict = {}


def _memo_udf(key: tuple, maker):
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    k = (sc.applicationId if sc is not None else None,) + key
    u = _UDF_MEMO.get(k)
    if u is None:
        if len(_UDF_MEMO) > 256:
            _UDF_MEMO.clear()
        u = _UDF_MEMO[k] = maker()
    return u


def arrow_kernel(fn, return_type: str, *params):
    """``fn(col, *params)`` as a scalar ``arrow_udf`` returning
    `return_type`, memoized per session and parameters.

    asNondeterministic is an optimizer FENCE, not a semantics change (the
    kernels are pure): without it, any predicate on the UDF's output — a
    caller's size(...) > 0, or the size/isnotnull filter
    InferFiltersFromGenerate derives from a downstream explode — is
    pushed below the projection by DUPLICATING the ArrowEvalPython node,
    and every row pays the kernel twice.  Every call site uses the result
    in a Project or Generate, where non-deterministic expressions are
    allowed."""
    def make():
        from pyspark.sql.functions import arrow_udf

        def run(col: pa.Array) -> pa.Array:
            return fn(col, *params)

        run.__name__ = fn.__name__
        return arrow_udf(run, return_type).asNondeterministic()

    return _memo_udf((fn.__module__, fn.__name__, return_type) + params, make)
