"""Mergeable distinct-count (HLL) sketch state — the sketch answer to
the rollup's refusal of COUNT DISTINCT (operators/rollup.py raises on
`count_distinct` because distinct sets do not add; this module maintains
the Apache DataSketches HLL register state that DOES merge exactly).

Spark ships the sketch natively (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` — JVM aggregates, whole-stage codegen around them,
no UDF): per-group state is ONE binary register array of
2^lgConfigK * ~1 byte, so a 100 TB stream's per-key distinct-user counts
live in a |groups|-row, KB-per-row state folded batch-by-batch — the
same incremental-view-maintenance shape as merge_rollup, with the
histogram/freqsketch modules' manifest + epoch + lease contract.

Merge-exactness: HLL union is a per-register MAX — commutative,
associative, idempotent — so `union(partials) == sketch(union)` holds at
the REGISTER level and the served estimate is merge-tree-invariant
(pinned by test: N-batch accretion equals the one-shot sketch estimate
exactly, not approximately). The estimate itself is approximate vs the
true distinct count (relative error ~1.04/sqrt(2^lgConfigK) ≈ 2.5% at
the lgConfigK=12 default) — which is why the registered query is
rows-only: DuckDB's approx_count_distinct uses a different sketch and
can never hash-match; the local test asserts the error envelope against
the exact count instead (tests/test_hllsketch.py).

ref: the reference has no distinct-count state at all (pandas nunique
per run, full rescan) — engine-native upgrade for the 100 TB path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    commit_version,
    epoch_already_applied,
    live_version_dir,
    read_table,
    write_table,
    writer_lease,
)

DEFAULT_LGK = 12  # 4096 registers, ~2.5% standard error


def hll_partial(batch: DataFrame, keys: list[str], item_col: str,
                lgk: int = DEFAULT_LGK) -> DataFrame:
    """One (keys..., sketch) row per group for a single batch."""
    return (
        batch.filter(F.col(item_col).isNotNull())
        .groupBy(*keys)
        .agg(F.hll_sketch_agg(F.col(item_col), F.lit(lgk)).alias("sketch"))
    )


def merge_hll(spark, batch: DataFrame, state_path: str, *,
              keys: list[str], item_col: str, lgk: int = DEFAULT_LGK,
              epoch: int | None = None,
              state_partitions: int = 1,
              partial: DataFrame | None = None) -> None:
    """Fold one batch into the per-group HLL state.

    union(state ∪ partial(batch)) at the register level; additive state,
    so pass `epoch` (foreachBatch's epoch_id) for exactly-once under
    replay (operators/state.py::applied_epoch). All sketches in a state
    dir share one lgk (hll_union_agg would raise on a mismatch — the
    loud failure we want, not a silent precision downgrade).

    `partial`, when given, is this batch's (keys..., sketch) frame from
    `hll_partial(batch, keys, item_col, lgk)` with the SAME params — a
    caller draining several pending batches materializes the per-batch
    sketch partials concurrently (operators/concurrency.checkpoint_all)
    while the register-union folds stay sequential. Register union is
    per-slot MAX (associative/idempotent), so the state is identical.
    """
    if epoch_already_applied(state_path, "hll-sketch state", epoch):
        return  # replayed micro-batch: already folded in
    caller_partial = partial is not None
    if partial is None:
        partial = hll_partial(batch, keys, item_col, lgk)
    with writer_lease(state_path, what="hll-sketch state"):
        # authoritative re-check INSIDE the lease (see rollup.py: the
        # pre-lease check is a fast path; a concurrent holder may have
        # committed this epoch while we computed the partial)
        if epoch_already_applied(state_path, "hll-sketch state", epoch):
            return
        live = live_version_dir(state_path, what="hll-sketch state")
        if live is None and caller_partial:
            # FIRST fold of a caller-built partial (r10 ADVICE): later
            # merges fail loudly on an lgk mismatch inside hll_union_agg,
            # but the first version would be written unchecked, silently
            # rebasing the state's precision on the caller's error. Probe
            # by unioning the partial's sketches with one declared-lgk
            # sketch — hll_union_agg raises on differing lgConfigK
            # (allowDifferentLgConfigK defaults to false). One tiny job
            # over the |groups|-row frame, only on state creation.
            probe = spark.range(1).agg(
                F.hll_sketch_agg(F.col("id"), F.lit(lgk)).alias("sketch")
            )
            partial.select("sketch").unionByName(probe).agg(
                F.hll_union_agg("sketch")
            ).first()
        if live is not None:
            merged = (
                read_table(spark, live)
                .unionByName(partial)
                .groupBy(*keys)
                .agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))
            )
        else:
            merged = partial
        # |groups|-row state: one file per merge by default (avoid a
        # shuffle-partition-count spray of tiny files re-read every merge)
        commit_version(
            state_path,
            lambda vdir: write_table(merged, vdir, state_partitions),
            epoch=epoch,
            prev=os.path.basename(live) if live else None,
        )


def read_hll(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what="hll-sketch state")
    if live is None:
        raise FileNotFoundError(f"no hll-sketch state at {state_path}")
    return read_table(spark, live)


def hll_estimate(state: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., n_distinct_est) served from register state — no rescan."""
    return state.select(
        *keys, F.hll_sketch_estimate(F.col("sketch")).alias("n_distinct_est")
    )
