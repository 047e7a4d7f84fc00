"""Per-doc Python forms of the fused text kernels, kept as test references.

Each function here is the batch body an Arrow UDF in the package ran
before the kernels moved onto `juliadb_jl_spark/functions/_kernels.py`:
tokens arrive as Python lists, every document is " "-joined and walked
token by token, and the result is a Python list per row.  The kernel
parity tests (tests/test_kernels.py) and tools/kernel_bench.py compare
the Arrow-buffer kernels against these, row by row.
"""
from __future__ import annotations

from hashlib import md5 as _md5
from zlib import crc32 as _crc

import numpy as np

from juliadb_jl_spark.functions.dedup import (_P31, _ph_hash_slices,
                                              perm_constants)

_POLY64_P = 1099511628211
_POLY_A = 1099511628211
_POLY_B = 6364136223846793005


def sig_mins(hb, lens, num_hashes, a_, b_):
    nz = np.array([n for n in lens if n > 0], dtype=np.int64)
    starts = np.zeros(len(nz), dtype=np.int64)
    np.cumsum(nz[:-1], out=starts[1:])
    sig = np.empty((len(nz), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        v = (a_[i] * hb + b_[i]) % _P31
        sig[:, i] = np.minimum.reduceat(v, starts)
    out, j = [], 0
    for n in lens:
        if n > 0:
            out.append(sig[j].tolist())
            j += 1
        else:
            out.append(None)
    return out


def crcperm_sets(col, num_hashes):
    a_, b_ = perm_constants(num_hashes)
    lens, flat = [], []
    for s in col:
        if s is None:
            lens.append(0)
            continue
        lens.append(len(s))
        flat.extend(s)
    if not flat:
        return [None] * len(col)
    hb = np.fromiter(
        (_crc(x.encode("utf-8", "surrogatepass")) for x in flat),
        dtype=np.int64, count=len(flat))
    return sig_mins(hb, lens, num_hashes, a_, b_)


def crcperm_fused(col, k, num_hashes):
    a_, b_ = perm_constants(num_hashes)
    lens, hbs = [], []
    for toks in col:
        ts = [] if toks is None else list(toks)
        nn = len(ts)
        if nn < k:
            lens.append(0)
            continue
        jb = " ".join(ts).encode("utf-8", "surrogatepass")
        obs = [0] * (nn + 1)
        pos_ = 0
        for j, t in enumerate(ts):
            pos_ += len(t.encode("utf-8", "surrogatepass")) + 1
            obs[j + 1] = pos_
        hs = {_crc(jb[obs[i]:obs[i + k] - 1]) for i in range(nn - k + 1)}
        lens.append(len(hs))
        hbs.extend(hs)
    if not hbs:
        return [None] * len(col)
    hb = np.fromiter(hbs, dtype=np.int64, count=len(hbs))
    return sig_mins(hb, lens, num_hashes, a_, b_)


def portable_sets(col, num_hashes):
    a_, b_ = perm_constants(num_hashes)
    lens, parts, slens = [], [], []
    for shset in col:
        if shset is None or len(shset) == 0:
            lens.append(0)
            continue
        lens.append(len(shset))
        for s in shset:
            parts.append(s)
            slens.append(len(s))
    if not parts:
        return [None] * len(col)
    cp = np.frombuffer(
        "".join(parts).encode("utf-32-le", "surrogatepass"),
        dtype="<u4").astype(np.int64)
    sl = np.asarray(slens, dtype=np.int64)
    ends = np.cumsum(sl)
    starts = ends - sl
    hb = _ph_hash_slices(cp, starts, ends)
    return sig_mins(hb, lens, num_hashes, a_, b_)


def md5_window_digs(toks, k, raw=False):
    nn = len(toks)
    if nn < k:
        return []
    jb = " ".join(toks).encode("utf-8", "surrogatepass")
    obs = [0] * (nn + 1)
    pos_ = 0
    for j, t in enumerate(toks):
        pos_ += len(t.encode("utf-8", "surrogatepass")) + 1
        obs[j + 1] = pos_
    if raw:
        return [_md5(jb[obs[i]:obs[i + k] - 1]).digest()
                for i in range(nn - k + 1)]
    return [_md5(jb[obs[i]:obs[i + k] - 1]).hexdigest()
            for i in range(nn - k + 1)]


def poly64_window_fps(col, k):
    lens, flat = [], []
    for toks in col:
        ts = [] if toks is None else list(toks)
        lens.append(len(ts))
        flat.extend(ts)
    out = []
    if not flat:
        return [[] for _ in lens]
    c = np.fromiter(
        (_crc(t.encode("utf-8", "surrogatepass")) for t in flat),
        dtype=np.uint64, count=len(flat))
    if len(c) >= k:
        pw = np.array([pow(_POLY64_P, k - 1 - j, 1 << 64)
                       for j in range(k)], dtype=np.uint64)
        sw = np.lib.stride_tricks.sliding_window_view(c, k)
        with np.errstate(over="ignore"):
            fps_all = (sw * pw).sum(axis=1, dtype=np.uint64) \
                .view(np.int64)
    s = 0
    for nn in lens:
        if nn < k:
            out.append([])
        else:
            out.append(fps_all[s:s + nn - k + 1].tolist())
        s += nn
    return out


def window_fps(col, k, fmt):
    """(fps, poss) per row, as `_window_fps`'s UDF returned them."""
    if fmt == "u64":
        digs_all = poly64_window_fps(col, k)
    else:
        digs_all = [[] if toks is None
                    else md5_window_digs(toks, k, fmt == "bin")
                    for toks in col]
    return [(d, list(range(1, len(d) + 1))) for d in digs_all]


def window_fp_set(col, k):
    return [[] if toks is None
            else list(set(md5_window_digs(toks, k, raw=True)))
            for toks in col]


def winnow_select(col, k, w):
    out = []
    for toks in col:
        nn = 0 if toks is None else len(toks)
        length = nn - k + 1 - (w - 1)
        if length < 1:
            out.append(([], []))
            continue
        a = np.array(md5_window_digs(toks, k), dtype="S32")
        m = a[:length].copy()
        idx = np.arange(length)
        for off in range(1, w):
            b = a[off:off + length]
            take = b < m
            m = np.where(take, b, m)
            idx = np.where(take, np.arange(off, off + length), idx)
        upos = np.unique(idx)
        out.append((a[upos].astype("U32").tolist(), (upos + 1).tolist()))
    return out


def gram_join(col, n):
    out = []
    for toks in col:
        ts = [] if toks is None else list(toks)
        nn = len(ts)
        if nn < n:
            out.append([])
            continue
        jb = " ".join(ts).encode("utf-8", "surrogatepass")
        obs = [0] * (nn + 1)
        pos_ = 0
        for j, t in enumerate(ts):
            pos_ += len(t.encode("utf-8", "surrogatepass")) + 1
            obs[j + 1] = pos_
        out.append([jb[obs[i]:obs[i + n] - 1].decode("utf-8",
                                                     "surrogatepass")
                    for i in range(nn - n + 1)])
    return out


def gram_lanes_flat(col, n, drop_empty=False):
    lens, flat = [], []
    for toks in col:
        if toks is None:
            ts = []
        elif drop_empty:
            ts = [t for t in toks if t]
        else:
            ts = list(toks)
        lens.append(len(ts))
        flat.extend(ts)
    counts = [max(0, m - n + 1) for m in lens]
    if not flat or max(lens) < n:
        z = np.empty(0, dtype=np.uint64)
        return z, z, [0] * len(lens)
    enc = [t.encode("utf-8", "surrogatepass") for t in flat]
    c = np.fromiter(((_crc(b) << 32) | _crc(b + b"\x9e") for b in enc),
                    dtype=np.uint64, count=len(enc))
    sw = np.lib.stride_tricks.sliding_window_view(c, n)
    pw1 = np.array([pow(_POLY_A, n - 1 - j, 1 << 64) for j in range(n)],
                   dtype=np.uint64)
    pw2 = np.array([pow(_POLY_B, n - 1 - j, 1 << 64) for j in range(n)],
                   dtype=np.uint64)
    with np.errstate(over="ignore"):
        h1_all = (sw * pw1).sum(axis=1, dtype=np.uint64)
        h2_all = (sw * pw2).sum(axis=1, dtype=np.uint64)
    keep = np.zeros(len(c) - n + 1, dtype=bool)
    s = 0
    for m, cnt in zip(lens, counts):
        if cnt:
            keep[s:s + cnt] = True
        s += m
    return h1_all[keep], h2_all[keep], counts


def doc_unique_pairs(h1_all, h2_all, counts):
    s = 0
    pair_t = np.dtype([("a", "<u8"), ("b", "<u8")])
    for cnt in counts:
        if not cnt:
            yield (np.empty(0, dtype=np.uint64),) * 2
            continue
        buf = np.empty(cnt, dtype=pair_t)
        buf["a"] = h1_all[s:s + cnt]
        buf["b"] = h2_all[s:s + cnt]
        u = np.unique(buf)
        yield np.ascontiguousarray(u["a"]), np.ascontiguousarray(u["b"])
        s += cnt


def distinct_gram_count(col, n, drop_empty=False):
    h1, h2, counts = gram_lanes_flat(col, n, drop_empty)
    return [len(u1) for u1, _ in doc_unique_pairs(h1, h2, counts)]


def doc_keys(ids, col, n):
    """novelty's `_emit_keys`: (id, h1, h2) per distinct gram key."""
    h1, h2, counts = gram_lanes_flat(col, n)
    rows = []
    for di, (u1, u2) in zip(ids, doc_unique_pairs(h1, h2, counts)):
        rows += [(di, a, b) for a, b in zip(u1.view(np.int64).tolist(),
                                            u2.view(np.int64).tolist())]
    return rows


def doc_gram_offsets(ts, n):
    js = " ".join(ts)
    off = [0] * (len(ts) + 1)
    p = 0
    for j, t in enumerate(ts):
        p += len(t) + 1
        off[j + 1] = p
    return js, off


def phrases(col, n, cand=None, seen=None):
    """frequent_phrases' `_emit_phr`: (phrase, h1, h2) for every
    occurrence, or with `cand` = (sorted h1, pair set) only the first
    occurrence of each candidate key in `seen`'s task."""
    h1, h2, counts = gram_lanes_flat(col, n, drop_empty=True)
    s1, s2 = h1.view(np.int64), h2.view(np.int64)
    rows = []
    s = 0
    for toks, cn in zip(col, counts):
        if not cn:
            continue
        ts = [t for t in toks if t]
        js, off = doc_gram_offsets(ts, n)
        if cand is None:
            rows += [(js[off[i]:off[i + n] - 1], int(s1[s + i]),
                      int(s2[s + i])) for i in range(cn)]
        else:
            for i in np.nonzero(np.isin(s1[s:s + cn], cand[0]))[0]:
                key = (int(s1[s + i]), int(s2[s + i]))
                if key not in cand[1] or key in seen:
                    continue
                seen.add(key)
                rows.append((js[off[i]:off[i + n] - 1],) + key)
        s += cn
    return rows


def doc_histograms(col, n_buckets, seed, bigrams, hash_family):
    from juliadb_jl_spark.functions.dsir import (_portable_fold,
                                                 _xxhash64_spark,
                                                 bucket_constants)
    ntok, flat = [], []
    for toks in col:
        if toks is None:
            ntok.append(0)
            continue
        ntok.append(len(toks))
        flat.extend(toks)
    enc = [t.encode("utf-8", "surrogatepass") for t in flat]
    jb = b" ".join(enc)
    tl = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    st = np.zeros(len(enc), dtype=np.int64)
    np.cumsum(tl[:-1] + 1, out=st[1:])
    en = st + tl
    gdoc = np.repeat(np.arange(len(ntok), dtype=np.int64), ntok)
    if bigrams:
        same = gdoc[:-1] == gdoc[1:]
        st = np.concatenate([st, st[:-1][same]])
        en = np.concatenate([en, en[1:][same]])
        gdoc = np.concatenate([gdoc, gdoc[:-1][same]])
    if hash_family == "xxhash64":
        b = np.mod(_xxhash64_spark(np.frombuffer(jb, dtype=np.uint8),
                                   st, en, seed), n_buckets)
    else:
        a_, b_ = bucket_constants(seed)
        b = ((a_ * _portable_fold(jb, st, en) + b_) % _P31) % n_buckets
    keys, cnt = np.unique(gdoc * n_buckets + b, return_counts=True)
    bounds = np.searchsorted(keys // n_buckets,
                             np.arange(len(ntok) + 1)).tolist()
    bl, cl = (keys % n_buckets).tolist(), cnt.tolist()
    return [list(zip(bl[s:e], cl[s:e])) if e > s else None
            for s, e in zip(bounds[:-1], bounds[1:])]
