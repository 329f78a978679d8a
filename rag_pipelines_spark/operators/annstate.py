"""Incremental ANN (IVF) index maintenance: frozen-centroid postings state.

The serving-side complement of the batch similarity tiers
(operators/similarity.py, operators/semdedup.py::ivf_topk_exact): a
standing corpus accretes batch-by-batch into an inverted-file index —
per-cell postings (cell, id, vector, norm) under the SAME
manifest/lease/epoch state contract the other incremental families use
(operators/state.py) — and queries probe the state without ever
re-scanning or re-assigning history.

Design choices, each load-bearing at scale:

  * **Centroids freeze at first init.** The k_seeds hash-min vectors of
    the FIRST batch become the cells, persisted beside the postings;
    later batches assign against the STORED seeds. That is how real IVF
    deployments maintain indexes (train/freeze centroids, grow lists;
    re-train = rebuild, here = new state root). Frozen seeds are also
    what makes N appends == one-shot build EXACTLY (pinned by test) —
    re-deriving seeds per batch would re-shuffle history's assignments.
  * **Hash-seeded deterministic seeds** (same scheme as semdedup /
    ivf_topk_exact): min (md5(id), id) of the init batch, no float
    averaging — so the DuckDB oracle reproduces the whole index life
    cycle and the serve query is driver-grade hash-checked
    (q_ann_from_state).
  * **Append = postings rows only.** A batch shuffles nothing but its
    own (cell, id) assignment pass against the broadcast seeds; state
    grows by |batch| rows (vector-sized — this family stores the
    vectors themselves, the price any re-rank-capable index pays).
  * **Exactly-once via commit markers.** Identical choreography to the
    near-dup key append: rows land in the live version dir, an fsync'd
    epoch marker is written only after the job commit returns, and a
    replayed epoch skips (marker present) or redoes (absent) — row
    presence is never the done signal.

Serving (`ann_query_from_state`) is ivf_topk_exact's probe phase against
the stored postings: queries assign to their nprobe nearest stored
seeds, candidates come from an equi-join on the cell id, exact decimal
re-rank, round-9 cosines — identical output contract to q_cosine_topk.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.semdedup import _cos9, _dot_dec
from rag_pipelines_spark.operators.state import (
    epoch_is_committed,
    live_version_dir,
    mark_epoch_committed,
    max_committed_epoch,
    read_table,
    write_manifest,
    write_table,
    writer_lease,
)
from rag_pipelines_spark.operators.statefs import backend_for

__all__ = [
    "merge_ann_index",
    "ann_query_from_state",
    "read_ann_postings",
    "compact_ann_postings",
]

_WHAT = "ann index state"


def _seeds_dir(state_path: str) -> str:
    return os.path.join(state_path, "seeds")


def _norms(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _dot_dec(F.col(vec_col), F.col(vec_col)).cast("double").alias("n2"),
    )


def _nearest_cells(frame: DataFrame, seeds: DataFrame, n_cells: int) -> DataFrame:
    """(id, v, n2, cell) — each row's n_cells nearest stored seeds, by
    (round-9 cosine desc, seed_id asc), nulls last on both engines."""
    scored = frame.crossJoin(F.broadcast(seeds)).select(
        frame["id"],
        frame["v"],
        frame["n2"],
        "seed_id",
        _cos9(_dot_dec(frame["v"], F.col("sv")), frame["n2"], F.col("sn2")).alias(
            "scos"
        ),
    )
    w = Window.partitionBy("id").orderBy(F.desc_nulls_last("scos"), F.asc("seed_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_cells)
        .select("id", "v", "n2", F.col("seed_id").alias("cell"))
    )


def _read_seeds(spark, state_path: str) -> DataFrame:
    return read_table(spark, _seeds_dir(state_path)).select(
        "seed_id", "sv", "sn2"
    )


def merge_ann_index(
    spark,
    batch: DataFrame,
    state_path: str,
    id_col: str,
    vec_col: str,
    k_seeds: int = 32,
    epoch: int | None = None,
) -> None:
    """Fold one embedding batch into the frozen-centroid postings state.

    First call initializes the state: seeds = the k_seeds hash-min
    vectors OF THIS BATCH (frozen thereafter), then every call appends
    the batch's (cell, id, v, n2) postings under the commit-marker
    protocol. Safe to replay a marked epoch (no-op)."""
    norms = _norms(batch, id_col, vec_col).localCheckpoint(eager=True)
    with writer_lease(state_path, what=_WHAT):
        live = live_version_dir(state_path, what=_WHAT)
        if live is None and not norms.take(1):
            return  # nothing to freeze seeds from: state stays fresh
        if live is None:
            seeds = (
                norms.select(
                    F.col("id").alias("seed_id"),
                    F.col("v").alias("sv"),
                    F.col("n2").alias("sn2"),
                    F.md5(F.col("id").cast("string")).alias("h"),
                )
                .orderBy("h", "seed_id")
                .limit(k_seeds)
                .drop("h")
            )
            # seeds BEFORE the manifest: a crash in between leaves a
            # manifest-less root, which live_version_dir reports as fresh
            # (refuse-to-look-empty holds: postings cannot exist yet)
            write_table(seeds, _seeds_dir(state_path), 1)
            version = f"v-{uuid.uuid4().hex[:8]}"
            live = os.path.join(state_path, version)
            backend_for(state_path).makedirs(live)
            write_manifest(state_path, version)
        if epoch is not None:
            done_max = max_committed_epoch(live)
            if done_max is not None and done_max > epoch:
                raise RuntimeError(
                    f"ann index state at {state_path} holds committed epoch "
                    f"{done_max} > incoming {epoch} — checkpoint reset "
                    "against existing state; restore the checkpoint or "
                    "start a fresh state root"
                )
            if epoch_is_committed(live, epoch):
                return  # replayed micro-batch: postings already visible
        seeds = _read_seeds(spark, state_path)
        postings = _nearest_cells(norms, seeds, 1)
        if epoch is not None:
            postings = postings.withColumn("epoch", F.lit(epoch))
        postings.write.mode("append").parquet(live)
        if epoch is not None:
            mark_epoch_committed(live, epoch)


def read_ann_postings(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what=_WHAT)
    if live is None:
        raise FileNotFoundError(f"no ann index state at {state_path}")
    return spark.read.parquet(live)


def ann_query_from_state(
    spark,
    state_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """(q_id, c_id, cosine, rk) — top-k over the accreted postings,
    probing each query's nprobe nearest STORED seeds. History is touched
    only as the postings table; no re-assignment, no text/vector rescan
    outside the probed cells."""
    seeds = _read_seeds(spark, state_path)
    qn = _norms(queries, id_col, vec_col)
    probes = _nearest_cells(qn, seeds, nprobe).select(
        F.col("id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        "cell",
    )
    posts = read_ann_postings(spark, state_path).select(
        F.col("id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("n2").alias("cn2"),
        "cell",
    )
    cand = probes.join(posts, "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.select(
        "q_id",
        "c_id",
        _cos9(_dot_dec(F.col("qv"), F.col("cv")), F.col("qn2"), F.col("cn2")).alias(
            "cosine"
        ),
    ).distinct()
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", "cosine", "rk")
    )


def compact_ann_postings(
    spark, state_path: str, num_partitions: int | None = None
) -> int:
    """Rewrite the accreted postings cell-clustered; returns the row count.

    Batch appends leave one small file-set per epoch; a probe reads only
    its nprobe cells' rows, so clustering the postings by cell turns
    that logical pruning into physical I/O pruning (min/max cell stats
    per file skip everything else) and caps the file count. The rewrite
    runs dropDuplicates: steady state holds one posting per vector, but
    a crash between an append's job commit and its marker makes the
    replay redo the append (merge_ann_index's contract) — doubled rows
    are invisible to top-k (distinct before ranking) and reclaimed here.

    Same crash-safe choreography as compact_neardup_state: new version
    dir while the MANIFEST names the old one, atomic pointer flip,
    newest epoch marker carried forward, predecessor retained one
    generation for in-flight readers, orphans GC'd. Single-writer via
    the shared lease.
    """
    from rag_pipelines_spark.operators.state import (
        gc_orphans,
        write_prev,
    )

    with writer_lease(state_path, what=_WHAT):
        live = live_version_dir(state_path, what=_WHAT)
        if live is None:
            raise FileNotFoundError(f"no ann index state at {state_path}")
        state = spark.read.parquet(live).dropDuplicates()
        n_rows = state.count()
        n = num_partitions or spark.sparkContext.defaultParallelism
        new_version = f"v-{uuid.uuid4().hex[:8]}"
        new_dir = os.path.join(state_path, new_version)
        state.repartition(n, "cell").sortWithinPartitions("cell").write.mode(
            "overwrite"
        ).parquet(new_dir)
        done_max = max_committed_epoch(live)
        if done_max is not None:
            mark_epoch_committed(new_dir, done_max)
        write_prev(new_dir, os.path.basename(live))
        write_manifest(state_path, new_version)
        gc_orphans(state_path)
    return n_rows
