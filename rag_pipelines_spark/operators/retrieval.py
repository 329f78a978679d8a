"""Lexical + hybrid retrieval operators: BM25 top-k, reciprocal-rank
fusion, and ordered context assembly.

The reference repo exists to FEED a retrieval-augmented generator
(README.md:1-40 — scrape → clean → chunk → "RAG pipelines"); the serving
side of that loop is a retrieval query, so the engine ships it as a
first-class operator family rather than leaving it to a downstream vector
store.

Scale design (100 TB corpus, small serving batch of queries):
  * The corpus NEVER shuffles to build an index: term frequencies are
    computed per document against a broadcast list of the batch's distinct
    query terms (`size(filter(tokens, t))` — JVM higher-order function,
    no explode of the full token stream, no inverted-index materialization
    step on the hot path).
  * Document frequencies reduce the (doc × term) hit frame to |terms| rows
    with a map-side partial aggregate — the only data-sized shuffle in the
    whole plan is the final (query_id, doc_id) score combine, whose input
    is already filtered to hit rows (tf > 0).
  * Per-query top-k is a window over query_id — at serving batch sizes the
    window partitions are the number of queries, each reduced by rank
    filter; for a standing corpus the heavy side stays embarrassingly
    parallel.
  * RRF fuses two already-small ranked lists (top-k per query from each
    retriever) — a full-outer join on (query_id, doc_id) over k·|queries|
    rows; corpus size is out of the picture by then.

Float determinism (driver hash contract): idf/length-normalization math is
per-row IEEE double arithmetic on bitwise-identical inputs (ln verified
bit-equal between the JVM and DuckDB's libm on this platform); the only
order-sensitive step — summing per-term contributions — goes through
decimal(30,15) (exact, associative), and the final score is rounded to 9
decimals exactly like q_cosine_topk.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.queries._util import dec_to_dbl

# BM25 constants (Robertson k1/b defaults). Derived literals are
# precomputed in Python and embedded via repr() on BOTH the Spark and the
# oracle side, so each engine parses the exact same decimal string and the
# per-row double math sees bitwise-identical constants.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1_PLUS_1 = BM25_K1 + 1.0
BM25_ONE_MINUS_B = 1.0 - BM25_B
RRF_K = 60.0


def _tokens(text_col: Column) -> Column:
    return F.split(text_col, " ")


def term_hits(docs: DataFrame, terms: DataFrame, *, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_id, dl, term, tf) for every document × query-term with tf > 0.

    `terms` must be a tiny one-column ("term") DataFrame — it is broadcast
    and the corpus is scanned exactly once with no explode: tf comes from
    `size(filter(tokens, x == term))`, a codegen'd array scan per term.
    """
    toks = _tokens(F.col(text_col))
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("dl"),
    )
    hit = d.crossJoin(F.broadcast(terms.select("term"))).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter("toks", lambda x: x == F.col("term"))).alias("tf"),
    )
    return hit.filter(F.col("tf") > 0)


def bm25_scores(docs: DataFrame, queries: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text",
                corpus_stats: tuple[DataFrame, DataFrame] | None = None,
                qterms: DataFrame | None = None) -> DataFrame:
    """BM25 score of every (query_id, doc_id) pair with ≥1 term match.

    `queries` is (query_id, query_text). Returns (query_id, doc_id, score)
    with score already rounded to 9 decimals (cross-engine stable).

    `corpus_stats`, when given, is the (terms, totals) pair maintained by
    `merge_corpus_stats` — idf/avgdl then come from the accreted state
    instead of two global aggregates over `docs`, so a serving batch
    against a standing 100 TB corpus reads vocabulary-sized parquet
    (term-pruned by pushdown) rather than re-aggregating the corpus.

    `qterms`, when given, is a precomputed (query_id, term) DataFrame —
    callers whose query batch is a driver-side literal (every serving
    batch) should build it locally and skip the explode+distinct jobs.
    CONTRACT: the provided frame must already be DISTINCT — duplicate
    (query_id, term) rows double-count that term's contribution (the
    internal path dedupes; the provided path is trusted as-is to keep
    the literal fast path job-free).
    """
    if qterms is None:
        qterms = queries.select(
            "query_id", F.explode(F.split("query_text", " ")).alias("term")
        ).distinct()
    uterms = qterms.select("term").distinct()

    # Null-text docs can never match (term_hits drops them) — exclude
    # them from the corpus stats too, or n_docs counts rows that sum_dl
    # skips (size(split(NULL)) is NULL) and avgdl/idf silently skew.
    docs_nn = docs.filter(F.col(text_col).isNotNull())
    hits = term_hits(docs_nn, uterms, id_col=id_col, text_col=text_col)
    if corpus_stats is None:
        # the hits frame feeds TWO branches below (the dfreq aggregate
        # and the scoring join) and term_hits' corpus × |terms| array
        # scan is the expensive subtree — materialize it once (r10;
        # measured ~2x the scan cost uncut). The stored frame is
        # (doc_id, dl, term, tf) for MATCHING pairs only — no token
        # arrays, bounded by matches, not the corpus. The state-served
        # path (corpus_stats given) consumes hits once — no cut needed.
        hits = hits.localCheckpoint(eager=True)

    if corpus_stats is not None:
        terms_state, totals = corpus_stats
        stats = totals.select("n_docs", "sum_dl")
        dfs = terms_state.join(F.broadcast(uterms), "term").select("term", "dfreq")
    else:
        # Corpus-global stats: one all-agg row, broadcast-cross-joined back.
        toks = _tokens(F.col(text_col))
        stats = docs_nn.agg(
            F.count("*").alias("n_docs"), F.sum(F.size(toks)).alias("sum_dl")
        )
        dfs = hits.groupBy("term").agg(F.count("*").alias("dfreq"))

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    idf = F.log(
        ((F.col("n_docs") - F.col("dfreq")).cast("double") + F.lit(0.5))
        / (F.col("dfreq").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(BM25_K1) * (
        F.lit(BM25_ONE_MINUS_B) + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
    )
    contrib = idf * ((tf * F.lit(BM25_K1_PLUS_1)) / norm)

    scored = (
        hits.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id", contrib.cast("decimal(30,15)").alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(dec_to_dbl(F.sum("c")), 9).alias("score"))
    )
    return scored


def topk_per_query(scored: DataFrame, k: int, *, score_col: str = "score",
                   id_col: str = "doc_id") -> DataFrame:
    """rank ≤ k per query_id, deterministic tie-break on the doc id."""
    w = W.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    )


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, *,
             k: float = RRF_K) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, rk) ranked lists.

    rrf = Σ 1/(k + rank) over the lists the doc appears in (Cormack &
    Clarke's parameter-free default, k=RRF_K=60 — the oracle SQL in
    queries/retrieval.py interpolates the SAME constant). Missing-from-
    one-list docs contribute only the list they appear in. Returns
    (query_id, doc_id, rrf) rounded to 9 decimals.
    """
    a = ranked_a.select("query_id", "doc_id", F.col("rk").alias("rk_a"))
    b = ranked_b.select("query_id", "doc_id", F.col("rk").alias("rk_b"))
    fused = a.join(b, ["query_id", "doc_id"], "full_outer")
    kf = F.lit(float(k))
    part = lambda rk: F.when(  # noqa: E731
        rk.isNotNull(), F.lit(1.0) / (kf + rk.cast("double"))
    ).otherwise(F.lit(0.0))
    return fused.select(
        "query_id",
        "doc_id",
        F.round(part(F.col("rk_a")) + part(F.col("rk_b")), 9).alias("rrf"),
    )


def build_inverted_index(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", shards: int = 8) -> DataFrame:
    """Offline inverted index: (term, shard, postings, df_shard) rows.

    The serving path (bm25_scores) deliberately builds NO index; this is
    the offline counterpart for workloads that amortize many query
    batches over a static corpus. Posting lists are SHARDED by
    pmod(doc_id, shards): a stopword-grade term's postings are
    data-sized, and an unsharded collect_list would funnel the whole
    corpus's worst term through one task — sharding bounds every row by
    |corpus|/shards and keeps the build a single hash aggregate. Lists
    are emitted sorted and comma-joined, so the output is deterministic
    under any partitioning.
    """
    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("term"),
    )
    return (
        pairs.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(shards)))
        .groupBy("term", "shard")
        .agg(
            F.count("*").alias("df_shard"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental BM25 corpus statistics (continuous-ingest serving path)
# ---------------------------------------------------------------------------
# The reference's watcher accretes the corpus batch-by-batch (delta
# anti-join, fda_watcher.py run_pipeline); its retrieval twin is corpus
# statistics that accrete the same way. State is vocabulary-sized — (term,
# dfreq) plus one totals row — i.e. MBs even for a 100 TB corpus, so each
# merge rewrites it whole into a new manifest-addressed version (same
# crash-safety scheme as the near-dup state, operators/state.py;
# compaction is built into the rewrite).


def batch_corpus_stats(docs: DataFrame, *, text_col: str = "text"):
    """(terms, totals) for one batch: per-term doc frequency + corpus
    totals, using the same whitespace tokenization as term_hits (dfreq
    counts docs with tf > 0). Null-text docs are excluded from BOTH
    frames — the same symmetry rule as bm25_scores' direct stats path."""
    docs_nn = docs.filter(F.col(text_col).isNotNull())
    toks = _tokens(F.col(text_col))
    terms = (
        docs_nn.select(F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("dfreq"))
    )
    totals = docs_nn.agg(
        F.count("*").alias("n_docs"), F.sum(F.size(toks)).alias("sum_dl")
    )
    return terms, totals


def corpus_stats(spark, state_path: str):
    """(terms, totals) DataFrames of the live corpus-stats state."""
    import os

    from rag_pipelines_spark.operators.state import live_version_dir, read_table

    live = live_version_dir(state_path, what="corpus-stats state")
    if live is None:
        raise FileNotFoundError(f"no corpus-stats state at {state_path}")
    return (
        read_table(spark, os.path.join(live, "terms")),
        read_table(spark, os.path.join(live, "totals")),
    )


def merge_corpus_stats(spark, batch: DataFrame, state_path: str, *,
                       text_col: str = "text", epoch: int | None = None) -> None:
    """Accrete BM25 corpus statistics with a new document batch.

    merged dfreq = old + batch per term (full-outer sum); totals add.
    The merged state is written to a NEW version dir (terms/ + totals/),
    the MANIFEST flips atomically, superseded versions are GC'd — the
    crash-safety contract of operators/state.py, shared with the near-dup
    state. Identity pinned by test: N merges == one batch over the union.

    Single-writer like the reference's singleton watcher cron. The stats
    are additive COUNTS, so a replayed batch would double-count — pass
    `epoch` (foreachBatch's epoch_id) and the merge becomes idempotent:
    a replay of an already-applied epoch is skipped (exactly-once state
    under Structured Streaming's at-least-once replays).
    """
    import os

    from rag_pipelines_spark.operators.state import (
        commit_version,
        epoch_already_applied,
        live_version_dir,
        read_table,
        write_table,
        writer_lease,
    )

    if epoch_already_applied(state_path, "corpus-stats state", epoch):
        return  # replayed micro-batch: already folded in

    b_terms, b_totals = batch_corpus_stats(batch, text_col=text_col)
    with writer_lease(state_path, what="corpus-stats state"):
        # authoritative re-check INSIDE the lease (see rollup.py: the
        # pre-lease check is a fast path; a concurrent holder may have
        # committed this epoch while we computed the partial)
        if epoch_already_applied(state_path, "corpus-stats state", epoch):
            return
        live = live_version_dir(state_path, what="corpus-stats state")
        if live is not None:
            o_terms = read_table(spark, os.path.join(live, "terms"))
            o_totals = read_table(spark, os.path.join(live, "totals"))
            terms = (
                o_terms.unionByName(b_terms)
                .groupBy("term")
                .agg(F.sum("dfreq").alias("dfreq"))
            )
            totals = (
                o_totals.unionByName(b_totals)
                .agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("sum_dl").alias("sum_dl"),
                )
            )
        else:
            terms, totals = b_terms, b_totals

        def _write(vdir: str) -> None:
            # two independent write jobs to disjoint paths inside the
            # uncommitted version dir — overlap them (guide §2.6); the
            # MANIFEST flip after both return stays the commit point
            from rag_pipelines_spark.operators.concurrency import run_all

            run_all(
                lambda: write_table(terms, os.path.join(vdir, "terms")),
                lambda: write_table(totals, os.path.join(vdir, "totals")),
            )

        commit_version(
            state_path,
            _write,
            epoch=epoch,
            prev=os.path.basename(live) if live else None,
        )


def assemble_context(ranked: DataFrame, *, snippet_col: str = "snippet",
                     sep: str = " | ") -> DataFrame:
    """Collapse a ranked (query_id, rk, snippet) frame into one ordered
    context string per query — the prompt-assembly step of a RAG serve.

    Order is pinned by sorting the collected (rk, snippet) structs (struct
    ordering compares rk first), NOT by assuming collect_list order — so
    the result is partition-invariant.
    """
    return ranked.groupBy("query_id").agg(
        F.count("*").alias("n_ctx"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", snippet_col))),
                lambda s: s[snippet_col],
            ),
            sep,
        ).alias("context"),
    )


def term_pmi(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pair_count: int = 5,
    max_terms_per_doc: int | None = None,
    round_digits: int | None = 9,
) -> DataFrame:
    """PMI term co-occurrence over document-level presence
    (query-expansion statistics): (t1, t2, c12, pmi) with
    pmi = ln(P(t1,t2) / (P(t1)·P(t2))) over document frequencies,
    t1 < t2 lexicographically, pairs below `min_pair_count` dropped.

    Scale contract — the pair build is QUADRATIC in per-doc distinct
    terms: one 10k-distinct-term document emits 5·10⁷ pairs from a
    single row. `max_terms_per_doc` caps it: each document's distinct
    term set is reduced to a deterministic hash-ranked top-k slice
    (xxhash64 order) BEFORE the self-join, bounding any document's pair
    emission at k·(k-1)/2. Hash rank rather than frequency rank on
    purpose: it needs no per-(doc,term) aggregation (stays a per-row
    array op — no extra shuffle) and samples the vocabulary unbiased,
    where frequency ranking would concentrate on stopwords. The fixture
    query calls this uncapped (web-scale callers must not); the capped
    pair bound is pinned in tests/test_retrieval.py.

    `round_digits` rounds pmi for cross-engine hash parity (PMI
    magnitude <= ln(N_docs), so 9 digits is 1-ULP-safe); pass None for
    full doubles.
    """
    terms_arr = F.array_distinct(F.split(F.col(text_col), " "))
    if max_terms_per_doc is not None:
        # deterministic hash order, then slice: per-row, shuffle-free
        terms_arr = F.slice(
            F.array_sort(
                terms_arr,
                lambda l, r: F.when(F.xxhash64(l) < F.xxhash64(r), -1)
                .when(F.xxhash64(l) > F.xxhash64(r), 1)
                .otherwise(0),
            ),
            1,
            max_terms_per_doc,
        )
    dt = docs.select(F.col(id_col).alias("doc_id"),
                     F.explode(terms_arr).alias("term"))
    n = dt.agg(F.count_distinct("doc_id").alias("n_docs"))
    dfreq = dt.groupBy("term").agg(F.count("*").alias("c"))
    a = dt.alias("a")
    b = dt.alias("b")
    # equi-join on doc_id only (lint contract: candidates from equi-joins,
    # never all-pairs); the t1 < t2 predicate prunes inside the match
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= min_pair_count)
    )
    f1 = dfreq.select(F.col("term").alias("t1"), F.col("c").alias("c1"))
    f2 = dfreq.select(F.col("term").alias("t2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12").cast("double") * F.col("n_docs").cast("double"))
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    if round_digits is not None:
        pmi = F.round(pmi, round_digits)
    return (
        pairs.join(F.broadcast(f1), "t1")
        .join(F.broadcast(f2), "t2")
        .crossJoin(F.broadcast(n))
        .select("t1", "t2", "c12", pmi.alias("pmi"))
    )


def embedding_tokens(embs: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding", n_tokens: int = 8,
                     token_dim: int = 8) -> DataFrame:
    """Split each fixed-width embedding into `n_tokens` contiguous
    sub-vectors of `token_dim` dims — the multi-vector ("token-level")
    representation late-interaction retrieval scores over.

    In a real ColBERT deployment the token vectors come from the encoder
    (one per input token); this engine treats the representation as data
    and only owns the scoring. The fixture derives tokens by slicing the
    single stored vector so the operator is exercised end-to-end without
    any model dependency. Build is a pure projection + bounded explode
    (xN_tokens rows) — zero shuffle at any corpus size.

    Returns (id, tok, tvec, n2): n2 is the exact squared norm of the
    sub-vector via the decimal fold (order-independent, bitwise equal in
    DuckDB — see queries/extensions.py::_dot_dec). Downstream MaxSim
    scoring requires nonzero norms; `maxsim_scores` filters n2 = 0
    tokens itself (a zero sub-vector has no defined cosine), so callers
    may pass this frame through unfiltered.
    """
    from rag_pipelines_spark.operators.vecexpr import hof_dot_dec_sql

    toks = embs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tokens - 1)),
                lambda i: F.slice(F.col(vec_col), i * token_dim + 1, token_dim),
            )
        ).alias("tok", "tvec"),
    )
    # n2 stays a higher-order-function fold ON PURPOSE (r10): the HOF is
    # non-cheap to the optimizer, so it is materialized here — once per
    # token row — instead of being collapsed past the downstream
    # |Q|xcorpus join and recomputed per PAIR, which is exactly what
    # happened with a flat cast-chain form (measured 9.2 s -> 19.1 s
    # regression at sf0.1; OPTIMIZATION_r10.md). SQL-text build, same
    # ArrayAggregate runtime, bit-identical (tests/test_retrieval.py).
    sq = hof_dot_dec_sql("tvec", "tvec")
    return toks.withColumn("n2", F.expr(f"CAST({sq} AS DOUBLE)"))


def maxsim_scores(q_tokens: DataFrame, d_tokens: DataFrame, *,
                  exclude_self: bool = False,
                  candidates: DataFrame | None = None,
                  token_dim: int = 8) -> DataFrame:
    """Late-interaction (MaxSim) relevance: for every (query, doc) pair,
    score = Σ over query tokens of max over doc tokens of the per-token
    cosine (Khattab & Zaharia 2020, ColBERT §3.2 — the interaction that
    keeps per-token embeddings independent until scoring).

    Inputs are token frames from `embedding_tokens` (id, tok, tvec, n2).
    Scale design: the query batch (|Q| ids × n_tokens rows) broadcasts;
    the corpus token frame streams through ONE broadcast-nested-loop
    stage producing |Q|·n_tokens·corpus_tokens candidate rows that are
    immediately max-reduced by a map-side-combinable hash agg keyed
    (query_id, doc_id, q_tok) — so the only shuffle carries
    |Q|·n_tokens·|corpus| pre-reduced rows, linear in the corpus with a
    tiny constant. No index, no all-pairs blowup beyond the declared
    |Q|×corpus scoring (brute-force tier; the pruned tier passes
    `candidates` from `maxsim_candidates_lsh` — q_cosine_topk → LSH
    precedent, delivered r10).

    Per-token cosine is the exact-decimal dot / sqrt-norm product,
    quantized to integer "nano-units" via FLOOR(cos·1e9 + 0.5) — the
    drift.py recipe, NOT round(,9): Spark and DuckDB round(double)
    diverge on near-half-boundary values, while FLOOR/·/+ are IEEE-exact
    single-rounding ops on bit-identical inputs. Maxima and their sum
    stay in exact BIGINT nanos; the final score is one identical
    CAST(nanos AS DOUBLE)/1e9 per (query, doc). Zero-norm token
    sub-vectors are filtered on BOTH sides before scoring (0/0 cosine is
    NaN, and Spark's MAX treats NaN as greater than every double — one
    degenerate token would otherwise dominate the score).
    Returns (query_id, doc_id, maxsim).

    `candidates` (query_id, doc_id) switches the brute-force |Q|×corpus
    scan to exact-on-candidates scoring — the pruned tier's re-rank
    stage (see `maxsim_candidates_lsh`). The pair frame then comes from
    equi-joins (query_id against the broadcast query batch, doc_id
    against the corpus token frame), so cost is O(|candidates|·n_tok²)
    regardless of corpus size, and any (query, doc) scored by both
    tiers gets the IDENTICAL value (same arithmetic, same filters).
    """
    from rag_pipelines_spark.operators.vecexpr import (
        dlit,
        flat_dot_dec_sql,
    )

    q = q_tokens.filter(F.col("n2") > 0).select(
        F.col("id").alias("query_id"),
        F.col("tok").alias("q_tok"),
        F.col("tvec").alias("q_vec"),
        F.col("n2").alias("qn2"),
    )
    d = d_tokens.filter(F.col("n2") > 0).select(
        F.col("id").alias("doc_id"),
        F.col("tvec").alias("d_vec"),
        F.col("n2").alias("dn2"),
    )
    if candidates is not None:
        pairs = (
            candidates.select("query_id", "doc_id")
            .join(F.broadcast(q), "query_id")
            .join(d, "doc_id")
        )
    else:
        pairs = F.broadcast(q).crossJoin(d)
    if exclude_self:  # fixture mode: queries drawn from the corpus itself
        pairs = pairs.filter(F.col("query_id") != F.col("doc_id"))
    # r10 (vecexpr.py rationale): the per-pair token dot is a flat SQL
    # decimal fold (one parse, whole-stage codegen) instead of the
    # zip_with/aggregate HOF — this expression runs |Q|·n_tok·|corpus
    # tokens| times, the single hottest expression in the retrieval
    # tier. Identical arithmetic (tests/test_vecexpr.py).
    #
    # r10 second pass (guide §1.2 per-task work): even flat, the decimal
    # fold pays one CAST(double AS DECIMAL) per term per pair — a
    # BigDecimal construction each, measured ~80% of the scoring stage.
    # The contract output, though, is FLOOR(cos·1e9 + 0.5): an INTEGER.
    # The plain-double dot differs from the decimal dot by at most
    #   q_err = token_dim·0.5e-15        (per-term HALF_UP quantization)
    #   s_err = 2e-15·Σ|q_i·d_i|         (≥ 2x the (n-1)·eps·Σ|t| double
    #                                     summation bound + the final
    #                                     decimal→double cast ulp)
    # so in y = cos·1e9 + 0.5 units the two paths diverge by less than
    #   m = 1e-5 + (q_err + s_err)·1e9/denom
    # (the flat 1e-5 covers the ~ulp(1e9)≈2.4e-7 rounding of the shared
    # /denom·1e9+0.5 ops with ~10x margin). FLOOR(y) can only differ
    # between the paths when y_dbl lies within m of an integer — so the
    # decimal fold is evaluated ONLY on those boundary-risky rows
    # (lazy CASE WHEN branch; ~1e-5 of rows at the default margin), and
    # every row's published value still comes from arithmetic that
    # provably equals the full-decimal evaluation. Equality with the
    # always-decimal path is pinned in tests/test_retrieval.py
    # (SPARK_GRAFT_MAXSIM_GUARD=1e9 forces the decimal branch on every
    # row) and by the unchanged oracle hashes.
    dot = flat_dot_dec_sql(
        [f"CAST(q_vec[{i}] AS DOUBLE)" for i in range(token_dim)],
        [f"CAST(d_vec[{i}] AS DOUBLE)" for i in range(token_dim)],
    )
    dot_dbl = " + ".join(
        f"(CAST(q_vec[{i}] AS DOUBLE) * CAST(d_vec[{i}] AS DOUBLE))"
        for i in range(token_dim)
    )
    abs_dot = " + ".join(
        f"ABS(CAST(q_vec[{i}] AS DOUBLE) * CAST(d_vec[{i}] AS DOUBLE))"
        for i in range(token_dim)
    )
    guard = float(os.environ.get("SPARK_GRAFT_MAXSIM_GUARD", "1.0"))
    denom = "(SQRT(qn2) * SQRT(dn2))"
    y_dbl = f"(({dot_dbl}) / {denom} * {dlit(1e9)} + {dlit(0.5)})"
    margin = (
        f"({dlit(guard)} * ({dlit(1e-5)}"
        f" + ({dlit(token_dim * 0.5e-15)} + {dlit(2e-15)} * ({abs_dot}))"
        f" * {dlit(1e9)} / {denom}))"
    )
    frac = f"({y_dbl} - FLOOR({y_dbl}))"
    cos_nanos = F.expr(
        f"CASE WHEN {frac} >= {margin} AND {frac} <= (1.0 - {margin})"
        f" THEN FLOOR({y_dbl})"
        f" ELSE FLOOR(CAST({dot} AS DOUBLE) / {denom}"
        f" * {dlit(1e9)} + {dlit(0.5)}) END"
    )
    per_qtok = (
        pairs.select("query_id", "doc_id", "q_tok", cos_nanos.alias("cn"))
        .groupBy("query_id", "doc_id", "q_tok")
        .agg(F.max("cn").alias("best_nanos"))
    )
    return per_qtok.groupBy("query_id", "doc_id").agg(
        (F.sum("best_nanos").cast("double") / F.lit(1e9)).alias("maxsim")
    )


def maxsim_candidates_lsh(q_tokens: DataFrame, d_tokens: DataFrame, *,
                          token_dim: int = 8, bits: int = 16,
                          tables: int = 4, min_matches: int = 2,
                          seed: int = 42,
                          exclude_self: bool = False) -> DataFrame:
    """Candidate (query_id, doc_id) pairs for the pruned MaxSim tier:
    a doc is a candidate for a query iff at least `min_matches` DISTINCT
    query tokens have a sub-vector sharing a sign-sketch bucket with one
    of the doc's tokens in some table — the ColBERT deployment recipe
    (Khattab & Zaharia 2020 §3.6: per-query-token ANN over the corpus
    token index, docs reached by several query tokens rank first), with
    the same LSH machinery the cosine family uses
    (operators/similarity.py::_hyperplanes/_buckets_udf, planes over
    token_dim dims instead of the full embedding).

    Scale posture: the corpus token frame is bucketed by ONE Arrow
    matmul per batch and raw matches come from an equi-join on
    (table, bucket) against the broadcast query-token buckets
    (|Q|·n_tok·tables rows) — shuffle keyed by bucket, volume
    O(matching tokens), never |Q|×corpus. The per-(query, doc)
    distinct-q_tok count is a map-side-combinable hash agg shuffling
    one row per surviving pair, before the exact re-rank pays n_tok²
    cosines on it.

    Recall tuning: more tables = more OR-chances per token (recall up);
    more bits = finer buckets (candidates down); higher `min_matches` =
    stronger multi-token evidence required (candidates down sharply —
    a true neighbor matches on several tokens, a random bucket-mate
    rarely on more than one). On the hash-uniform driver fixture —
    the documented ANN worst case (SCALE.md "ANN recall ladder":
    nearest neighbors barely closer than the bulk) — recall tracks the
    candidate fraction for ANY index; the clustered regime where
    pruning earns its keep is pinned in tests/test_retrieval.py and
    measured by tools/ann_recall_ladder.py --maxsim. A zero-norm token
    hashes like any other vector here, but scoring filters it
    (maxsim_scores n2 > 0 guard), so a candidate produced only by a
    zero-norm token match scores over its remaining tokens.
    """
    from rag_pipelines_spark.operators.similarity import (
        _buckets_udf,
        _hyperplanes,
    )

    bucketer = _buckets_udf(_hyperplanes(token_dim, bits, tables, seed))
    qb = q_tokens.select(
        F.col("id").alias("query_id"),
        F.col("tok").alias("q_tok"),
        F.posexplode(bucketer(F.col("tvec"))).alias("tbl", "bucket"),
    )
    db = d_tokens.select(
        F.col("id").alias("doc_id"),
        F.posexplode(bucketer(F.col("tvec"))).alias("tbl", "bucket"),
    )
    cand = F.broadcast(qb).join(db, ["tbl", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("doc_id"))
    return (
        cand.groupBy("query_id", "doc_id")
        .agg(F.countDistinct("q_tok").alias("_m"))
        .filter(F.col("_m") >= min_matches)
        .select("query_id", "doc_id")
    )


def maxsim_candidates_ivf(q_tokens: DataFrame, d_tokens: DataFrame, *,
                          n_cells: int = 32, nprobe: int = 4,
                          min_matches: int = 2, seed: int = 42,
                          refine_iters: int = 0,
                          exclude_self: bool = False) -> DataFrame:
    """Candidate (query_id, doc_id) pairs for the pruned MaxSim tier via
    IVF cells over TOKEN vectors — the PLAID recipe (Santhanam et al.
    2022 §3: every corpus token is assigned to its nearest centroid;
    a query token probes its `nprobe` nearest cells; docs reached by at
    least `min_matches` distinct query tokens go to the exact re-rank).
    This is the clustered-data tier: on real encoder output (topical
    token clusters) IVF reaches high recall at ~1-5% probe fraction
    where sign-sketch LSH needs 20-50% (SCALE.md "ANN ladder, clustered
    regime" — same trade as cosine_topk_lsh vs cosine_topk_ivf).

    Machinery is shared with the cosine family
    (operators/similarity.py): centroids are a deterministic
    hash-ordered sample of corpus token vectors (optionally
    Lloyd-refined), the centroid matrix rides inside one Arrow-batched
    matmul UDF (corpus never shuffles to be assigned), and candidates
    come from an equi-join on cell — shuffle volume O(matching tokens).
    The per-(query, doc) distinct-q_tok count is a map-side-combinable
    hash agg, one row per surviving pair, before the exact tier pays
    n_tok² cosines on it.
    """
    from pyspark.sql import Window

    from rag_pipelines_spark.operators.similarity import (
        _collect_cents,
        _nearest_cells_udf,
        kmeans_refine,
    )

    cents = (
        d_tokens.select(
            F.concat_ws("#", F.col("id").cast("string"),
                        F.col("tok").cast("string")).alias("cent_src"),
            F.col("tvec").alias("cent_emb"),
        )
        .withColumn("h", F.xxhash64(F.col("cent_src"), F.lit(seed)))
        .orderBy("h", "cent_src")
        .limit(n_cells)
        .withColumn(
            "cell",
            # tiny-frame window (n_cells rows by construction) — same
            # allowlisted shape as cosine_topk_ivf
            F.row_number().over(Window.orderBy(F.col("h"), F.col("cent_src"))),
        )
        .select("cell", "cent_emb")
    )
    if refine_iters > 0:
        cents = kmeans_refine(
            d_tokens.select(F.col("tvec").alias("embedding")),
            cents, n_iters=refine_iters,
        )
    cells, mat = _collect_cents(cents)
    q_assign = _nearest_cells_udf(cells, mat, nprobe)
    d_assign = _nearest_cells_udf(cells, mat, 1)
    qa = q_tokens.select(
        F.col("id").alias("query_id"),
        F.col("tok").alias("q_tok"),
        F.explode(q_assign(F.col("tvec"))).alias("cell"),
    )
    da = d_tokens.select(
        F.col("id").alias("doc_id"),
        F.explode(d_assign(F.col("tvec"))).alias("cell"),
    )
    cand = F.broadcast(qa).join(da, "cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("doc_id"))
    return (
        cand.groupBy("query_id", "doc_id")
        .agg(F.countDistinct("q_tok").alias("_m"))
        .filter(F.col("_m") >= min_matches)
        .select("query_id", "doc_id")
    )
