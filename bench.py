"""Benchmark runner (driver contract, BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

One shared SparkSession; per-query timing = full plan execution to a
driver-side count/collect of the (small) result.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# CORE: the round-1 headline set, FROZEN — never grows, so `core_total`
# is like-for-like round over round. Covers scan+agg, 3-way join, window,
# text-heavy explode, dedup, vector similarity, sessionization — the
# shapes that dominate a 100 TB ingest/analytics run.
CORE = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_agg_stats",
    "q_join_inner",
    "q_window_rank",
    "q_delta_anti_join",
    "q_dedup_exact",
    "q_group_count",
    "q_agg_summary",
    "q_topk",
    "q_md5_id",
    "q_clean_boilerplate",
    "q_cutoff_sql",
    "q_session_agg",
    "q_cosine_topk",
    "q_ngram_jaccard",
    "q_embed_generate",
]

# CORE_R4: the round-4 retrieval/warehouse additions, FROZEN at round 5
# (never grows) — a second like-for-like aggregate now that each member
# has an isolated baseline in SCALE.md.
CORE_R4 = [
    "q_bm25_topk",
    "q_rrf_fusion",
    "q_scd2_versions",
    "q_histogram_quantiles",
]

# EXTRAS: shapes added after round 1 and not yet frozen into a core set;
# reported separately so the growing set never skews the round-over-round
# core comparisons.
EXTRAS = [
    "q_minhash_neardup",
    "q_dup_clusters",
    "q_repetition_score",
    # round 2: completed TPC-H surface + ANN scale path + C4 line dedup
    "q_tpch_q9",
    "q_tpch_q13",
    "q_tpch_q21",
    "q_ann_lsh",
    "q_line_dedup",
    # the composed training-data lifecycle (quality -> dedups -> decontam
    # -> packing) as one plan — the end-to-end number that matters
    "q_pretraining_prep",
    # round 3: scale-safe global index (block-offset formulation)
    "q_batch_assign",
    # round 5: mergeable-sketch serving (build 3-batch state + serve) —
    # the incremental-view-maintenance cost profile, incl. state I/O
    "q_freq_topk_serve",
    "q_distinct_sketch_serve",
    # round 6: quantile z-order mechanics (boundaries= reuse + cell-aligned
    # deterministic file id), oracle-checked
    "q_zorder_quantile",
    # round 6: bloom-prefiltered delta anti-join — the shuffled volume is
    # |dups| + fpp*|new|, not |new| (operators/bloomfilter.py)
    "q_bloom_prefilter",
    # round 6: exact Jaccard-threshold join via prefix filtering — the
    # deterministic-guarantee twin of MinHash banding (operators/setjoin.py)
    "q_jaccard_join",
    # round 6: KMV distinct sketch — the oracle-checked sketch tier
    # (operators/kmv.py)
    "q_kmv_distinct",
    # round 6: exact duplicated-substring removal (token 8-gram spans,
    # keeper-exempt) — operators/substrdedup.py
    "q_substring_dedup",
    # round 6: SemDeDup embedding-cluster near-dedup — operators/semdedup.py
    "q_semantic_dedup",
    # round 6: linear quality-classifier inference (map-only, zero shuffle)
    "q_quality_model",
    # round 6 late: CCNet-style bigram-LM familiarity (model train +
    # vocab-keyed scoring join in one plan) — operators/lm.py
    "q_lm_score",
    # round 7: the FULL verified near-dedup pipeline (md5-minhash bands ->
    # bucket-collected candidates -> exact set-Jaccard verify) — the
    # number that matters for corpus dedup, vs q_minhash_neardup's
    # candidates-only cost (operators/dedup.py near_dedup_pairs)
    "q_near_dedup",
    # round 7: token-budget mixture admission — two-phase md5-prefix
    # bucket design, corpus never pays a full-sort window
    # (operators/sampling.py token_budget_mixture)
    "q_token_budget_mixture",
    # round 8: DSIR importance weighting — two corpus passes, 10k-row
    # bucket-count shuffles, broadcast log-ratio table (operators/dsir.py)
    "q_dsir_weights",
    # round 9: iterative Lloyd k-means — iters+1 corpus passes, k-row
    # update shuffles, zero-shuffle literal-centroid assignment
    # (operators/clustering.py)
    "q_kmeans_clusters",
    # round 9: matrix-free PCA projection — power steps as corpus passes
    # with d-row update shuffles, zero-shuffle final projection
    # (operators/pca.py)
    "q_pca_project",
    # round 9: BPE tokenizer training + encode — one corpus pass to the
    # vocab, merges on the vocab-sized frame, encode joins the vocab
    # (operators/bpe.py)
    "q_bpe_encode",
    # round 9 (cont.): quantized-integer PageRank over the customer<->
    # supplier graph — 8 iterations, each one |nodes|-row join shuffle +
    # one map-side-combinable agg (operators/pagerank.py)
    "q_pagerank",
    # round 9 (cont.): ColBERT late-interaction top-k — broadcast query
    # tokens, one map-side-combinable (q, d, q_tok) max-reduce shuffle
    # (operators/retrieval.py maxsim_scores)
    "q_maxsim_topk",
    # round 9 (cont.): Count-Min sketch 3-batch build + point-estimate
    # serve — fixed-space counters, incl. state I/O
    # (operators/cmsketch.py)
    "q_countmin_serve",
    # round 9 (cont.): sketch-based join-cardinality estimation — two
    # fact scans to counters, then KB-sized products
    # (operators/cmsketch.py cm_join_size)
    "q_cm_join_size",
    # round 9 (cont.): WordPiece vocab learn + greedy longest-match
    # encode — vocabulary-sized frames, zero-shuffle scan fold
    # (operators/wordpiece.py)
    "q_wordpiece_encode",
    # round 9 (cont.): KL batch-drift monitor — one feature explode +
    # two 10k-bucket hash-aggs, broadcast arithmetic after
    # (operators/drift.py)
    "q_batch_drift",
    # round 10: pruned MaxSim tier — token-IVF candidates (equi-join on
    # cell + distinct-query-token vote), exact nano-quantized re-rank on
    # candidates only; the |Q|x corpus brute-force scan drops out
    # (operators/retrieval.py maxsim_candidates_ivf)
    "q_maxsim_pruned",
]

HEADLINE = CORE + EXTRAS + CORE_R4


def parse_only(env: str) -> set[str] | None:
    """The measured-set filter from SPARK_GRAFT_BENCH_QUERIES: comma-
    separated names, whitespace around each ignored; None (the full
    set) when empty. An unknown name raises ValueError instead of being
    dropped, since a typo would otherwise report a near-zero total."""
    only = {s.strip() for s in env.split(",") if s.strip()} or None
    unknown = sorted((only or set()) - set(HEADLINE) - {"pipeline_watcher"})
    if unknown:
        raise ValueError(
            "SPARK_GRAFT_BENCH_QUERIES names unknown queries: "
            + ", ".join(unknown)
        )
    return only


def main() -> None:
    t0 = time.time()
    # SPARK_GRAFT_BENCH_QUERIES=q_a,q_b restricts the measured set (the
    # sf1 scaling rung runs the top-10 entries only — r10 VERDICT "Next
    # round" #3). Unset (the default invocation) = full HEADLINE set,
    # identical behavior to before. Additions-only: protocol, sinks,
    # min-of-N unchanged. Parsed before the session starts, so a typo
    # exits at once.
    try:
        only = parse_only(os.environ.get("SPARK_GRAFT_BENCH_QUERIES", ""))
    except ValueError as e:
        sys.exit(f"bench.py: {e}")
    from rag_pipelines_spark.registry import load_all
    from rag_pipelines_spark.session import get_spark

    registry = load_all()
    spark = get_spark("rag-pipelines-spark-bench")
    # Pin WindowExec's logger to ERROR for this bench session only. Its one
    # WARN ("No Partition Defined ... single partition") fires for the
    # DELIBERATE tiny-frame windows (per-block offsets, grand totals over
    # per-group aggregates — one row per block/lang/centroid, never per
    # record). The allowlist of queries permitted to carry such a window is
    # *enforced* in tests/test_plans.py::test_registry_wide_plan_lints
    # (TINY_FRAME_WINDOW_OK); suppressing the log line here hides no real
    # finding — a data-sized unpartitioned window would fail that lint.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    # warm-up: run every headline shape once at the smallest SF so JIT/
    # codegen/parquet-footer costs don't land on the first measured query
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        if only is not None and name not in only:
            continue
        q = registry.get(name)
        if q is not None:
            try:
                q.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    # warm the measured-SF inputs too (footer parse + OS page cache):
    # without this the first measured query absorbs the whole cold-read
    # cost — q_tpch_q1 has been observed 1.6-6.0 s purely by slot order
    from rag_pipelines_spark.io import TABLES, table as _tbl

    for tname in TABLES:
        try:
            _tbl(spark, SF_DIR, tname).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # min-of-N protocol (tools/isolated_bench.py discipline, now the
    # default): N round-major passes, min per query. A single shared-JVM
    # pass carries +-0.5 s of GC/codegen noise per sub-2 s entry and one
    # box-wide load spike skews EVERY query the same direction (the r7
    # "+12% uniform drift" cost a diagnosis round); the min of 3 erases
    # both. Since r9 EVERY reported query pays the N passes (r8 ran the
    # frozen CORE/CORE_R4/watcher sets min-of-3 but extras 1-pass, so a
    # noise adjudication landing on an extras query had no protocol).
    # Cross-protocol caveat for readers of the history: minima from r8+
    # compared against <=r7 single-pass numbers look systematically
    # faster with zero code change — the "protocol" field in the output
    # records which regime produced each file. SPARK_GRAFT_BENCH_RUNS=1
    # restores the old single pass everywhere.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {}
    for r in range(runs):
        for name in HEADLINE:
            if only is not None and name not in only:
                continue
            q = registry.get(name)
            if q is None:
                continue
            start = time.time()
            df = q.fn(spark, SF_DIR)
            # noop sink: computes every column of every row (count() would
            # let Catalyst prune the projections away), writes nothing
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - start, 4)
            samples.setdefault(name, []).append(dt)
            print(f"# run{r + 1} {name}: {dt:.3f}s", file=sys.stderr)
    timings: dict[str, float] = {n: min(v) for n, v in samples.items()}

    # end-to-end watcher pipeline (scan -> fingerprint -> delta -> fetch):
    # the reference sustains ~0.9-1.6 rec/s on this dataflow (BASELINE.md);
    # we synthesize listing pages from `documents` and run the full graph
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table as _table
    from rag_pipelines_spark.plans.pipelines import watcher_pipeline

    docs = _table(spark, SF_DIR, "documents")
    row_html = F.concat(
        F.lit("<tr><td>"),
        F.substring("text", 1, 40),
        F.lit("</td><td>d</td><td>01/15/2024</td><td><a href=\"/node/"),
        F.col("doc_id").cast("string"),
        F.lit("\">x</a></td></tr>"),
    )
    pages = (
        docs.groupBy("source")
        .agg(F.concat_ws("", F.collect_list(row_html)).alias("body"))
        .select(
            F.concat(F.lit("https://l/"), F.col("source")).alias("url"),
            F.concat(F.lit("<table>"), F.col("body"), F.lit("</table>")).alias("html"),
        )
    )
    if only is None or "pipeline_watcher" in only:
        n_docs = docs.count()
        for r in range(runs):
            start = time.time()
            res = watcher_pipeline(pages, master=None)
            res.new_records.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - start, 4)
            samples.setdefault("pipeline_watcher", []).append(dt)
            print(
                f"# run{r + 1} pipeline_watcher: {dt:.3f}s ({n_docs} records, "
                f"{n_docs / dt:.0f} rec/s vs reference ~1.6 rec/s)",
                file=sys.stderr,
            )
        timings["pipeline_watcher"] = min(samples["pipeline_watcher"])

    total = round(sum(timings.values()), 4)
    # core = frozen round-1 set (+ pipeline_watcher, also measured since
    # r1) — the like-for-like round-over-round number
    core_names = set(CORE) | {"pipeline_watcher"}
    core_total = round(
        sum(v for k, v in timings.items() if k in core_names), 4
    )
    core_r4_total = round(
        sum(v for k, v in timings.items() if k in set(CORE_R4)), 4
    )
    extras_total = round(total - core_total - core_r4_total, 4)
    sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf: float | str = float(sf_tag)
    except ValueError:
        sf = sf_tag  # non-numeric dir suffix (e.g. a probe dir)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "core_total": core_total,
                "core_r4_total": core_r4_total,
                "extras_total": extras_total,
                "sf": sf,
                "runs": runs,
                # protocol provenance: <=r7 files are single-pass, r8 is
                # min-of-3 on frozen sets only, r9+ is min-of-N on every
                # reported query — compare like with like
                "protocol": (
                    "single-pass" if runs == 1 else f"min-of-{runs}-all"
                ),
                "wall_total": round(time.time() - t0, 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
