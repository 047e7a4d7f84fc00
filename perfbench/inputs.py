"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from ``--seed``: the same seed
writes byte-identical parquet.  Value domains mirror the repository's
TPC-H-ish testdata (TESTDATA.md) so the contract queries and their DuckDB
oracles select non-empty results; sizes are the workload definitions
recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the testdata `documents` table
VOCAB = np.array(
    "part column order scan a slow agg key window table merge vector join "
    "query row stream the batch sort value hash filter big data dup spark "
    "line small fast group customer".split())
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
N_SOURCES = 20
PARA_TOKENS = 10  # tokens in a shared boilerplate opener
BOILERPLATE = 6   # distinct shared leading paragraphs


def _write(df: pd.DataFrame, path: str) -> int:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


def _days(rng, base: str, span: int, n: int) -> np.ndarray:
    return (np.datetime64(base, "us")
            + rng.integers(0, span, n).astype("timedelta64[D]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, out_dir: str, sf: float) -> dict:
    """The star schema plus `events` at scale factor ``sf`` (sf0.01 =
    60k lineitem rows), one parquet file per table as `<name>.parquet`.
    Returns rows and bytes per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_c)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_p, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_p),
                                                 rng.choice(noun, n_p))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_p),
            "p_size": rng.integers(1, 51, n_p).astype("int32"),
            "p_retailprice": np.round(rng.uniform(900, 999.9, n_p), 1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_o, dtype="int64"),
            "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000, 500_000, n_o),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_o),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_o)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_o, n_l).astype("int64"),
            "l_partkey": rng.integers(0, n_p, n_l).astype("int64"),
            "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_l).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_l)}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_e, dtype="int64"),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, n_e).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_e).astype("int64"),
            "event_type": rng.choice(["click", "error", "purchase", "signup",
                                      "view"], n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
    }
    return {name: {"rows": len(df),
                   "bytes": _write(df, os.path.join(out_dir, f"{name}.parquet"))}
            for name, df in tables.items()}


def _edit(rng, toks: np.ndarray, rate: float) -> np.ndarray:
    out = toks.copy()
    hit = rng.random(len(out)) < rate
    out[hit] = rng.choice(VOCAB, int(hit.sum()))
    return out


def corpus_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents in the distinct-variant × duplicate-clique
    shape (after tools/make_docs_rung.py), grown from seeded word-soup
    base texts:

    - base texts cycle through 1, 2 and 3 distinct variants: the text
      itself and token-edited copies (3–30% of tokens replaced), so
      MinHash and n-gram Jaccard find near-duplicates on both sides of
      0.5;
    - variants cycle through exact-duplicate cliques of 1, 1, 2 and 3
      members; later members differ only in case and spacing, so the
      normalized fingerprint matches and the lowest id keeps the clean
      text;
    - every fourth base text opens with one of a few shared boilerplate
      paragraphs, so unrelated documents share some n-grams.

    Ids are assigned in shuffled order so cliques do not sit in one id
    range."""
    rng = np.random.default_rng(seed)
    boiler = [rng.choice(VOCAB, PARA_TOKENS) for _ in range(BOILERPLATE)]
    # the duplicate structure follows a fixed schedule, so every seed
    # yields the same number of variants, copies and boilerplate openers
    cliques, total, base, k = [], 0, 0, 0
    while total < n_docs:
        toks = rng.choice(VOCAB, int(rng.integers(10, 101)))
        if base % 4 == 0:
            toks = np.concatenate([boiler[rng.integers(BOILERPLATE)], toks])
        variants = [toks]
        for _ in range(base % 3):
            k += 1
            rate = 0.03 + 0.27 * ((k * 0.618034) % 1.0)
            variants.append(_edit(rng, toks, rate))
        base += 1
        for v in variants:
            clean = " ".join(v)
            clique = [clean]
            for _ in range((0, 0, 1, 2)[len(cliques) % 4]):
                noisy = clean.replace(" ", "  ", 1)
                clique.append(noisy[:1].upper() + noisy[1:])
            clique = clique[:n_docs - total]
            if clique:
                cliques.append(clique)
                total += len(clique)
    ids = rng.permutation(total)
    rows, k = [], 0
    for clique in cliques:
        members = sorted(ids[k:k + len(clique)])
        k += len(clique)
        rows.extend(zip(members, clique))
    df = pd.DataFrame(rows, columns=["doc_id", "text"]).sort_values(
        "doc_id", ignore_index=True)
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"] = rng.choice(LANGS, len(df), p=LANG_P)
    df["source"] = [f"src{i % N_SOURCES}" for i in df["doc_id"]]
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df


def write_corpus(df: pd.DataFrame, path: str) -> dict:
    return {"docs": len(df), "text_bytes": int(df["text"].str.len().sum()),
            "parquet_bytes": _write(df, path)}
