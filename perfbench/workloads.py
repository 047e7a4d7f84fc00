"""The benchmark workloads.  Each one owns its inputs (made from the seed),
its set-up, the ops of one run, the hygiene between runs and the checks
of its outputs.  A workload touches the engine only through its public
modules and `__spark_entry__`'s contract queries and oracle SQL."""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import duckdb
import pandas as pd

from perfbench import harness, inputs

# contract queries of the analytics session (names in __spark_entry__)
QUERIES = [
    "q01_pricing_summary", "q03_map_compute", "q05_join_inner",
    "q09_broadcast_3way", "q11_asofjoin", "q14_groupby_median",
    "q21_window_rank", "q24_topk_global", "q29_stack",
    "q32_tumbling_window", "q33_sessionize", "q99_shipping_priority",
    "q9a_regional_supplier_volume", "q9g_market_share",
    "q9y_waiting_suppliers", "q9z_small_quantity_revenue",
    "qaf_nation_volume", "qam_min_cost_supplier",
]
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events"]
ANALYTICS_SF = 0.01
CURATION_DOCS = 800
INDEX_BUCKETS = 8
INDEX_TABLE = "perfbench_exact_idx"


class Op:
    """One unit of client work: ``build`` makes the plan (driver side),
    ``action`` consumes it.  Both are inside the op's timed region."""

    def __init__(self, name: str, build, action):
        self.name = name
        self.build = build
        self.action = action


class Workload:
    name = ""
    item = ""            # what items_per_s counts
    items_per_run = 0

    def __init__(self, seed: int, tmp: str):
        self.seed = seed
        self.data = os.path.join(tmp, "data")
        os.makedirs(self.data, exist_ok=True)
        self.info: dict = {}
        self.verified: dict[str, tuple[str, bool]] = {}
        self.spark = None

    # -- interface ---------------------------------------------------
    def setup(self) -> None:
        """Build the state runs start from (timed as set-up)."""

    def prepare_setup(self) -> None:
        """Untimed clean-up before a set-up repetition."""

    def ops(self, run_no: int) -> list[Op]:
        raise NotImplementedError

    def collect(self) -> dict[str, object]:
        """Untimed: gather what the checks need, per op name."""
        return {}

    def after_run(self) -> None:
        """Untimed: drop run-owned state."""

    def verify(self, outputs: dict[str, object],
               digests: dict[str, str]) -> dict[str, bool]:
        """Full check of one run's outputs (with their ``digest``s)
        against an oracle."""
        raise NotImplementedError

    def amplification(self) -> dict[str, float]:
        return {}

    # -- shared ------------------------------------------------------
    @staticmethod
    def digest(out: object) -> str:
        return harness.canon(out) if isinstance(out, pd.DataFrame) \
            else hashlib.md5(repr(out).encode()).hexdigest()

    def check(self, outputs: dict[str, object]) -> list[str]:
        """Names of ops whose output is wrong.  The first run is compared
        with the oracle; later runs must reproduce the digests of the
        outputs the oracle accepted."""
        digests = {name: self.digest(out) for name, out in outputs.items()}
        if not self.verified:
            ok = self.verify(outputs, digests)
            self.verified = {name: (d, ok.get(name, False))
                             for name, d in digests.items()}
        wrong = []
        for name, d in digests.items():
            ref = self.verified.get(name)
            if ref is None or not ref[1] or ref[0] != d:
                wrong.append(name)
        return wrong


def _duck(tables: dict[str, object]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {harness.host_cpus()}")
    for name, src in tables.items():
        if isinstance(src, str):
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM "
                        f"read_parquet('{src}')")
        else:
            con.register(f"_{name}", src)
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM _{name}")
    return con


# ===================================================================
class AnalyticsSession(Workload):
    """Load the star schema once, cache it, then one closed-loop client
    issues the contract queries in seeded order; every result is fully
    consumed with toPandas."""

    name = "analytics_session"
    item = "queries"
    # a run is the session's first ROUNDS passes over the queries after
    # the load, as an interactive user meets them: the first pass pays
    # code generation and JIT, the second mostly does not
    ROUNDS = 2
    items_per_run = ROUNDS * len(QUERIES)

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        self.dir = os.path.join(self.data, "star")
        self.info = {"scale_factor": ANALYTICS_SF,
                     "tables": inputs.star_schema(seed, self.dir, ANALYTICS_SF)}
        os.environ["SPARK_GRAFT_CACHE_INPUT"] = "1"
        import __spark_entry__ as E
        self.queries = E.queries()
        self.oracle = E.oracle_sql()

    def prepare_setup(self):
        from juliadb_jl_spark.sources import testdata
        for df in testdata._CACHE.values():
            try:
                df.unpersist(True)
            except Exception:  # frame of a stopped session
                pass
        testdata._CACHE.clear()

    def setup(self):
        from juliadb_jl_spark.sources.testdata import read_table
        for t in STAR_TABLES:
            read_table(self.spark, self.dir, t).count()

    def ops(self, run_no):
        rng = random.Random(self.seed * 1000 + run_no)
        self._out: dict[str, pd.DataFrame] = {}

        def make(q, key):
            def action(df):
                self._out[key] = df.toPandas()
            return Op(q, lambda: self.queries[q](self.spark, self.dir), action)
        ops = []
        for k in range(1, self.ROUNDS + 1):
            order = list(QUERIES)
            rng.shuffle(order)
            ops += [make(q, f"{q}@{k}") for q in order]
        return ops

    def collect(self):
        return dict(self._out)

    def verify(self, outputs, digests):
        con = _duck({t: os.path.join(self.dir, f"{t}.parquet")
                     for t in STAR_TABLES})
        ok, refs = {}, {}
        for key in outputs:
            q = key.split("@")[0]
            if q not in refs:
                refs[q] = harness.canon(con.execute(self.oracle[q]).df())
            ok[key] = refs[q] == digests[key]
        con.close()
        return ok


# ===================================================================
class CurationPipeline(Workload):
    """Read the corpus from parquet and pass it through the curation
    stages; every stage persists its keepers, the keepers are chunked and
    saved, and their exact-dedup index is saved bucketed for later
    ingest."""

    name = "curation_pipeline"
    item = "docs"
    # a curation pass is a batch job: production pays the first pass's
    # worker start, JIT and code generation every time, so it is measured
    STAGES = ["exact_dedup", "minhash_lsh", "ngram_jaccard", "dsir_scores",
              "chunk_save", "index_save"]

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        self.corpus = inputs.corpus_frame(seed, CURATION_DOCS)
        self.path = os.path.join(self.data, "corpus.parquet")
        self.info = {"corpus": inputs.write_corpus(self.corpus, self.path)}
        self.items_per_run = len(self.corpus)
        self.out_dir = os.path.join(self.data, "chunks")
        self.index_dir = os.path.join(tmp, "warehouse", INDEX_TABLE)
        self.frames: dict[str, object] = {}
        self._kept_text = 0

    def prepare_setup(self):
        # a restarted session has an empty catalog; drop the table's files
        shutil.rmtree(self.index_dir, ignore_errors=True)

    def setup(self):
        import juliadb_jl_spark as jdb
        jdb.load(self.path, self.spark).df.count()   # open and validate

    def ops(self, run_no):
        import juliadb_jl_spark as jdb
        from pyspark.sql import functions as F
        from juliadb_jl_spark.functions import curation as CU
        from juliadb_jl_spark.functions import dedup as DD
        from juliadb_jl_spark.functions import dsir as DS
        from juliadb_jl_spark.functions import incremental as INC
        fr = self.frames

        def keep(name, src, drop):
            """src minus the dropped ids, persisted as the stage output."""
            fr[name] = src.join(drop.select(F.col(drop.columns[0])
                                            .alias("doc_id")).distinct(),
                                "doc_id", "left_anti").persist()
            return fr[name]

        def persisted(name, df):
            fr[name] = df.persist()
            return fr[name]

        stages = {
            "exact_dedup": lambda: persisted("exact_dedup", DD.dedup_exact(
                jdb.load(self.path, self.spark).df, "doc_id")
                .select("doc_id", "text", "lang")),
            "minhash_lsh": lambda: keep(
                "minhash_lsh", fr["exact_dedup"], DD.minhash_lsh_pairs(
                    fr["exact_dedup"], "doc_id", k=3, num_hashes=32,
                    bands=16, threshold=0.5).select("id_b")),
            "ngram_jaccard": lambda: keep(
                "ngram_jaccard", fr["minhash_lsh"], DD.ngram_jaccard_pairs(
                    fr["minhash_lsh"], "doc_id", k=3, threshold=0.5)
                .select("id_b")),
            "dsir_scores": lambda: persisted("dsir_scores", DS.dsir_fit_and_score(
                fr["ngram_jaccard"], "doc_id", F.col("lang") == "en",
                n_buckets=256, seed=1, hash_family="portable")),
        }
        ops = [Op(name, build, lambda df: df.count())
               for name, build in stages.items()]
        ops.append(Op(
            "chunk_save",
            lambda: CU.chunk_documents(
                fr["ngram_jaccard"].select("doc_id", "text"),
                size=32, overlap=8),
            lambda chunks: jdb.save(jdb.table(chunks), self.out_dir,
                                    mode="overwrite")))
        ops.append(Op(
            "index_save",
            lambda: INC.dedup_index(fr["ngram_jaccard"], "doc_id"),
            lambda idx: INC.save_index_bucketed(idx, INDEX_TABLE, "exact",
                                                INDEX_BUCKETS)))
        return ops

    def collect(self):
        fr, out = self.frames, {}
        ids = {k: sorted(r[0] for r in fr[k].select("doc_id").collect())
               for k in ("exact_dedup", "minhash_lsh", "ngram_jaccard")
               if k in fr}
        out.update(ids)
        if "dsir_scores" in fr:
            # float sums may differ in the last bits between runs
            sc = fr["dsir_scores"].toPandas()
            out["dsir_scores"] = sc.assign(logw=sc["logw"].round(6))
        if "ngram_jaccard" in ids:
            kept = self.corpus["doc_id"].isin(ids["ngram_jaccard"])
            self._kept_text = int(self.corpus.loc[kept, "text"].str.len().sum())
        if os.path.isdir(self.out_dir):
            con = duckdb.connect()
            out["chunk_save"] = con.execute(
                f"SELECT * FROM read_parquet('{self.out_dir}/*.parquet')").df()
            con.close()
        if self.spark.catalog.tableExists(INDEX_TABLE):
            self.spark.catalog.refreshTable(INDEX_TABLE)
            out["index_save"] = self.spark.table(INDEX_TABLE).toPandas()
        return out

    def after_run(self):
        for df in self.frames.values():
            df.unpersist(True)
        self.frames.clear()

    def verify(self, outputs, digests):
        """Each stage against DuckDB on the stage's actual input (the
        previous stage's checked keepers)."""
        import __spark_entry__ as E
        osql = E.oracle_sql()
        docs = self.corpus[["doc_id", "text", "lang", "source", "n_chars"]]
        ok = {n: False for n in self.STAGES}

        def oracle(name, ids):
            con = _duck({"documents": docs[docs["doc_id"].isin(ids)]})
            res = con.execute(osql[name]).df()
            con.close()
            return res

        got = outputs
        if "exact_dedup" not in got:
            return ok
        ok["exact_dedup"] = got["exact_dedup"] == sorted(
            oracle("q34_dedup_exact", docs["doc_id"])["doc_id"])
        s1 = set(got["exact_dedup"])
        # pairwise Jaccard does not depend on the other documents, so the
        # pairs among any later subset are these pairs restricted to it
        pairs = oracle("q35_ngram_jaccard", s1)
        truth = set(pairs["id_b"])
        if "minhash_lsh" in got:
            drop = s1 - set(got["minhash_lsh"])
            # LSH finds a subset of the exact pairs, nearly all at 16x2 bands
            ok["minhash_lsh"] = drop <= truth and \
                len(drop) >= 0.9 * len(truth)
            s2 = set(got["minhash_lsh"])
            if "ngram_jaccard" in got:
                inside = pairs[pairs["id_a"].isin(s2) & pairs["id_b"].isin(s2)]
                want = s2 - set(inside["id_b"])
                ok["ngram_jaccard"] = set(got["ngram_jaccard"]) == want
        if "ngram_jaccard" not in got:
            return ok
        s3 = set(got["ngram_jaccard"])
        if "dsir_scores" in got:
            ref = oracle("q9h_dsir_scores", s3)
            m = ref.merge(got["dsir_scores"], on="doc_id", how="outer",
                          suffixes=("", "_s"))
            ok["dsir_scores"] = len(m) == len(ref) == len(got["dsir_scores"]) \
                and (m["n_grams"] == m["n_grams_s"]).all() \
                and ((m["logw"] - m["logw_s"]).abs() < 1e-6).all()
        if "chunk_save" in got:
            ref = oracle("q9t_chunk_documents", s3)
            ok["chunk_save"] = harness.canon(ref) == \
                harness.canon(got["chunk_save"][ref.columns])
        if "index_save" in got:
            con = _duck({"documents": docs[docs["doc_id"].isin(s3)]})
            ref = con.execute(
                "SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', "
                "'g')))) AS fp, min(doc_id) AS doc_id FROM documents "
                "GROUP BY 1").df()
            con.close()
            ok["index_save"] = harness.canon(ref) == \
                harness.canon(got["index_save"][ref.columns])
        return ok

    def amplification(self):
        """Bytes the run left on disk (chunks + index) per byte of input
        text and per byte of kept text."""
        written = harness.dir_bytes(self.out_dir) + \
            harness.dir_bytes(self.index_dir)
        return {"write_amp": written / self.info["corpus"]["text_bytes"],
                "space_amp": written / max(self._kept_text, 1)}


WORKLOADS = {w.name: w for w in (AnalyticsSession, CurationPipeline)}
