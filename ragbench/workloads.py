"""The benchmark's workloads.

Each workload generates its inputs from the seed (`generate`), builds what
its ops read (`build`), warms up with untimed ops at the measured size
(`warmup`), then runs timed ops (`op`) in a closed loop. `check` compares
every op's output with DuckDB over the same generated inputs, outside the
timed region, and returns one verdict per op.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from ragbench import gen
from tools.driver_sim_lib import vhash

# Sizes per workload: (full, tiny). `tiny` is for the smoke check only.
SERVE_DOCS_PER_FILE = (300, 40)  # 4 files: one micro-batch (maxFilesPerTrigger)
WATCH_ROWS_PAGES = ((10_000, 100), (400, 8))
WARMUP_ROUNDS = 2


def _dir_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed, self.tiny = spark, work, seed, tiny
        self.layer: dict[str, float] = {}  # workload-specific per-layer numbers

    def generate(self):
        raise NotImplementedError

    def build(self, data) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Stage op i's input; runs before the op, outside its timing."""

    def warmup(self) -> None:
        raise NotImplementedError

    def may_stop_after(self, i: int) -> bool:
        """Whether the timed loop may end after op i."""
        return True

    def op(self, i: int):
        raise NotImplementedError

    def items(self, out) -> int:
        raise NotImplementedError

    def check(self, outs: list) -> list[bool]:
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Install span wrappers on the engine functions this workload calls."""


# ---------------------------------------------------------------------------


SERVE_SCHEMA = "doc_id long, text string, lang string, n_chars long"
FREQ_M = 2000  # above any per-language vocabulary: the sketch never prunes
CM_WIDTH = 1 << 14
WARMUP_CYCLES = 2


class ServeReads(Workload):
    """Serving requests against state that set-up ingests through
    streaming.incremental.continuous_ingest_pipeline (one micro-batch);
    one op = one request."""

    name = "serve_reads"

    def generate(self):
        return gen.ingest_files(self.seed, 4, SERVE_DOCS_PER_FILE[self.tiny])

    def build(self, files) -> None:
        from rag_pipelines_spark.streaming import incremental

        src = os.path.join(self.work, "src")
        os.makedirs(src)
        for n, pdf in enumerate(files):
            pdf.to_parquet(os.path.join(src, f"part-{n:05d}.parquet"))
        self.src, self.root = src, os.path.join(self.work, "state")
        q = incremental.continuous_ingest_pipeline(
            self.spark, src, SERVE_SCHEMA, self.root, os.path.join(self.work, "ckpt"),
            id_col="doc_id", text_col="text", rollup_keys=("lang",),
            freq_m=FREQ_M, hll_item_col="doc_id", kmv_item_col="doc_id",
            countmin_width=CM_WIDTH, seen_bloom_m_bits=1 << 16,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")
        self.progress = list(q.recentProgress)

        corpus = self.spark.read.parquet(os.path.join(self.root, "corpus"))
        sample = corpus.orderBy("doc_id").limit(3)
        terms = sorted({w for r in sample.collect() for w in r.text.split(" ")})
        self.bm25_terms = terms[:8] + ["absentterm"]
        langs = sorted(gen.LANGS)
        self.cm_probes = self.spark.createDataFrame(
            [(langs[i % len(langs)], t) for i, t in enumerate(self.bm25_terms)],
            "lang string, item string")
        self.requests = list(gen.SERVE_REQUESTS)

    def warmup(self) -> None:
        for _ in range(WARMUP_CYCLES):
            for kind in self.requests:
                self._request(kind)

    def _request(self, kind: str):
        from rag_pipelines_spark.operators import (
            cmsketch, freqsketch, hllsketch, kmv, retrieval)

        s, root = self.spark, self.root
        if kind == "freq_topk":
            return freqsketch.freq_topk(s, f"{root}/freq", keys=["lang"], k=10).collect()
        if kind == "cm_estimate":
            return cmsketch.cm_estimate(s, f"{root}/countmin", self.cm_probes,
                                        keys=["lang"]).collect()
        if kind == "hll_estimate":
            return hllsketch.hll_estimate(hllsketch.read_hll(s, f"{root}/hll"),
                                          ["lang"]).collect()
        if kind == "kmv_estimate":
            return kmv.kmv_estimate(kmv.read_kmv(s, f"{root}/kmv"), ["lang"]).collect()
        if kind == "bm25_stats":
            terms, totals = retrieval.corpus_stats(s, f"{root}/stats")
            return (
                terms.filter(F.col("term").isin(self.bm25_terms)).crossJoin(totals)
                .select("term", "dfreq", "n_docs", "sum_dl",
                        F.log(1 + (F.col("n_docs") - F.col("dfreq") + 0.5)
                              / (F.col("dfreq") + 0.5)).alias("idf"))
                .collect()
            )
        raise ValueError(kind)

    def op(self, i: int):
        kind = self.requests[i % len(self.requests)]
        return kind, self._request(kind)

    def may_stop_after(self, i: int) -> bool:
        return (i + 1) % len(self.requests) == 0  # whole cycles: a fixed mix

    def items(self, out) -> int:
        return 1

    def _exact(self, con) -> dict:
        src = os.path.join(self.src, "*.parquet")
        corpus = os.path.join(self.root, "corpus", "*", "*.parquet")
        con.execute(f"CREATE VIEW acc AS SELECT doc_id, text, lang FROM read_parquet('{corpus}')")
        expected_accepted = con.execute(
            f"SELECT count(DISTINCT text) FROM (SELECT DISTINCT doc_id, text "
            f"FROM read_parquet('{src}'))").fetchone()[0]
        tok = "SELECT lang, unnest(string_split(text, ' ')) AS item FROM acc"
        freq = con.execute(
            f"SELECT lang, item, count(*) AS est, row_number() OVER (PARTITION BY lang "
            f"ORDER BY count(*) DESC, item) AS rk FROM ({tok}) GROUP BY lang, item "
            f"QUALIFY rk <= 10").fetchall()
        counts = dict(((lang, item), n) for lang, item, n in con.execute(
            f"SELECT lang, item, count(*) FROM ({tok}) GROUP BY ALL").fetchall())
        distinct = dict(con.execute(
            "SELECT lang, count(DISTINCT doc_id) FROM acc GROUP BY lang").fetchall())
        n_docs, sum_dl = con.execute(
            "SELECT count(*), sum(len(string_split(text, ' '))) FROM acc").fetchone()
        dfreq = dict(con.execute(
            "SELECT term, count(DISTINCT doc_id) FROM (SELECT doc_id, "
            "unnest(string_split(text, ' ')) AS term FROM acc) GROUP BY term"
        ).fetchall())
        accepted, distinct_ids = con.execute(
            "SELECT count(*), count(DISTINCT doc_id) FROM acc").fetchone()
        return dict(freq=sorted(freq), counts=counts, distinct=distinct, n_docs=n_docs,
                    sum_dl=int(sum_dl), dfreq=dfreq, distinct_ids=distinct_ids, accepted=accepted,
                    expected_accepted=expected_accepted)

    def _ok(self, kind: str, rows, ex: dict) -> bool:
        if kind == "freq_topk":
            got = sorted((r.lang, r.item, r.est, r.rk) for r in rows)
            return got == ex["freq"] and all(r.err_bound == 0 for r in rows)
        if kind == "cm_estimate":
            return len(rows) == len(self.bm25_terms) and all(
                r.est == ex["counts"].get((r.lang, r.item), 0) for r in rows)
        if kind in ("hll_estimate", "kmv_estimate"):
            col, tol = (("n_distinct_est", 0.05) if kind == "hll_estimate"
                        else ("est_distinct", 0.30))
            return {r.lang for r in rows} == set(ex["distinct"]) and all(
                abs(r[col] - ex["distinct"][r.lang]) <= tol * ex["distinct"][r.lang]
                for r in rows)
        if kind == "bm25_stats":
            want = {t for t in self.bm25_terms if t in ex["dfreq"]}
            return {r.term for r in rows} == want and all(
                r.dfreq == ex["dfreq"][r.term] and r.n_docs == ex["n_docs"]
                and r.sum_dl == ex["sum_dl"] for r in rows)
        return False

    def check(self, outs):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        ex = self._exact(con)
        con.close()
        verdicts = [out is not None and self._ok(out[0], out[1], ex) for out in outs]
        # the ingest set-up is checked too: a wrong accepted set fails the run
        ingest_ok = ex["accepted"] == ex["expected_accepted"] == ex["distinct_ids"]
        state_bytes, _ = _dir_bytes(self.root)
        self.layer.update({
            "operators.statefs.bytes_written": float(state_bytes),
            "operators.state.bytes_per_doc": state_bytes / max(1, ex["accepted"]),
        })
        return verdicts + [ingest_ok]

    def instrument(self, tracer) -> None:
        from rag_pipelines_spark.operators import (
            bloomfilter, cmsketch, dedup, freqsketch, hllsketch, kmv, retrieval,
            rollup, state)

        for mod, attr, fam in (
            (dedup, "incremental_neardup", "neardup"),
            (retrieval, "merge_corpus_stats", "corpus_stats"),
            (rollup, "merge_rollup", "rollup"),
            (freqsketch, "merge_freq", "freq"),
            (hllsketch, "merge_hll", "hll"),
            (kmv, "merge_kmv", "kmv"),
            (cmsketch, "merge_cm", "countmin"),
            (bloomfilter, "merge_bloom", "bloom"),
        ):
            tracer.wrap(mod, attr, f"operators.{fam}.merge")
        for mod, attr, fam in (
            (freqsketch, "read_freq", "freq"),
            (cmsketch, "read_cm", "countmin"),
            (hllsketch, "read_hll", "hll"),
            (kmv, "read_kmv", "kmv"),
            (retrieval, "corpus_stats", "corpus_stats"),
        ):
            tracer.wrap(mod, attr, f"operators.{fam}.read")
        tracer.wrap_enter(state, "writer_lease", "operators.state.lease")
        tracer.wrap(state, "commit_version", "operators.state.commit")
        tracer.wrap(state, "live_version_dir", "operators.state.live_version_dir")


# ---------------------------------------------------------------------------


class WatcherDelta(Workload):
    """The reference's loop, round by round: listing pages -> watcher delta
    against the master -> land new records -> split and clean -> JSONL.
    One op = one round; the master grows every round."""

    name = "watcher_delta"

    def generate(self):
        rows, pages = WATCH_ROWS_PAGES[self.tiny]
        listing = gen.Listing(self.seed, rows, pages)
        return listing, listing.master_frame()

    def build(self, data) -> None:
        self.listing, master0 = data
        self.master_dir = os.path.join(self.work, "master")
        self.out_dir = os.path.join(self.work, "out")
        self.pages_dir = os.path.join(self.work, "pages")
        os.makedirs(os.path.join(self.master_dir, "round=-1"))
        master0.to_parquet(os.path.join(self.master_dir, "round=-1", "part-0.parquet"))
        self.master0_ids = list(master0["rag_id"])
        self.rounds: dict[int, list[dict]] = {}

    def prepare(self, i: int) -> None:
        self._stage(i + WARMUP_ROUNDS)

    def warmup(self) -> None:
        for i in range(-WARMUP_ROUNDS, 0):
            self.prepare(i)
            self.op(i)

    def _stage(self, r: int) -> None:
        """Generate round r's listing pages as parquet."""
        rows = self.listing.round_rows(r)
        self.rounds[r] = rows
        path = os.path.join(self.pages_dir, f"round={r}")
        os.makedirs(path)
        self.listing.pages_frame(rows).to_parquet(os.path.join(path, "part-0.parquet"))

    def op(self, i: int):
        from rag_pipelines_spark.plans import pipelines
        from rag_pipelines_spark.sources import jsonl

        s, r = self.spark, i + WARMUP_ROUNDS  # the first rounds warm up
        pages = s.read.parquet(os.path.join(self.pages_dir, f"round={r}"))
        master = s.read.parquet(self.master_dir)
        res = pipelines.watcher_pipeline(pages, master, transport=gen.transport)
        landed = os.path.join(self.master_dir, f"round={r}")
        res.new_records.write.parquet(landed)
        docs, _ = pipelines.split_and_clean_pipeline(s.read.parquet(landed))
        jsonl.write_jsonl(docs, os.path.join(self.out_dir, f"round={r}"))
        return r

    def items(self, out) -> int:
        return len(self.rounds[out])

    def check(self, outs):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        listing = pd.DataFrame(
            [(r, row["href"], row["title"], row["description"], row["date"])
             for r, rows in self.rounds.items() for row in rows],
            columns=["round", "href", "title", "description", "date"])
        urls = sorted({gen.webpage(h) for h in listing["href"]})
        bodies = pd.DataFrame({"webpage": urls,
                               "corpus": [gen.expected_corpus(u) for u in urls]})
        master0 = pd.DataFrame({"rag_id": self.master0_ids})
        con.register("listing", listing)
        con.register("bodies", bodies)
        con.register("master0", master0)
        con.execute(f"""
            CREATE VIEW keyed AS
            SELECT round, md5(webpage) AS rag_id, webpage, title, description, date
            FROM (SELECT DISTINCT round, title, description, date,
                    CASE WHEN regexp_matches(trim(href), '^https?://') THEN trim(href)
                         WHEN starts_with(trim(href), '/') THEN '{gen.BASE_DOMAIN}' || trim(href)
                         ELSE '{gen.BASE_DOMAIN}/' || trim(href) END AS webpage
                  FROM listing)
        """)
        verdicts, delta, n_bytes, n_files = [], [], 0, 0
        for r in outs:
            if r is None:
                verdicts.append(False)
                continue
            want = con.execute(f"""
                SELECT k.rag_id, k.title, k.description, k.date, md5(b.corpus) AS corpus_hash
                FROM keyed k JOIN bodies b USING (webpage)
                WHERE k.round = {r} AND k.rag_id NOT IN (
                    SELECT rag_id FROM master0
                    UNION ALL SELECT rag_id FROM keyed WHERE round < {r})
            """).df()
            path = os.path.join(self.out_dir, f"round={r}")
            got = con.execute(
                "SELECT rag_id, title, description, date, corpus_hash "
                f"FROM read_json('{path}/*.json', format='newline_delimited', "
                "columns={rag_id: 'VARCHAR', title: 'VARCHAR', description: 'VARCHAR', "
                "date: 'VARCHAR', corpus_hash: 'VARCHAR'})"
            ).df() if glob.glob(f"{path}/*.json") else want.iloc[0:0]
            verdicts.append(vhash(got) == vhash(want))
            delta.append(len(got) / len(self.rounds[r]))
            b, f = _dir_bytes(path)
            n_bytes, n_files = n_bytes + b, n_files + f
        con.close()
        n = max(1, len(outs))
        self.layer.update({
            "plans.pipelines.delta_share": sum(delta) / max(1, len(delta)),
            "sources.jsonl.bytes": n_bytes / n,
            "sources.jsonl.files": n_files / n,
        })
        return verdicts

    def instrument(self, tracer) -> None:
        from rag_pipelines_spark.plans import pipelines
        from rag_pipelines_spark.sources import jsonl

        tracer.wrap(pipelines, "watcher_pipeline", "plans.pipelines.build")
        tracer.wrap(pipelines, "split_and_clean_pipeline", "plans.pipelines.clean_build")
        tracer.wrap(jsonl, "write_jsonl", "sources.jsonl.write")


WORKLOADS = {w.name: w for w in (ServeReads, WatcherDelta)}
