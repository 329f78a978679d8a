"""Mergeable distinct-count (HLL) sketch state — the sketch answer to
the rollup's refusal of COUNT DISTINCT (operators/rollup.py raises on
`count_distinct` because distinct sets do not add; this module maintains
the Apache DataSketches HLL register state that DOES merge exactly).

Spark ships the sketch natively (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate` — JVM aggregates, whole-stage codegen around them,
no UDF): per-group state is ONE binary register array of
2^lgConfigK * ~1 byte, so a 100 TB stream's per-key distinct-user counts
live in a |groups|-row, KB-per-row state folded batch-by-batch — the
same incremental-view-maintenance shape as merge_rollup, folded by
operators/state.py::fold like every rewrite-style family.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    StateFamily,
    fold,
    read_state,
    stamp,
)

DEFAULT_LGK = 12  # 4096 registers, ~2.5% standard error

HLL = StateFamily("hll-sketch state", mismatch="lgConfigK mismatch")


def hll_partial(batch: DataFrame, keys: list[str], item_col: str,
                lgk: int = DEFAULT_LGK) -> DataFrame:
    """One (keys..., sketch) row per group for a single batch; the
    sketch column carries its lgk as a stamp (state.stamp)."""
    return stamp(
        batch.filter(F.col(item_col).isNotNull())
        .groupBy(*keys)
        .agg(F.hll_sketch_agg(F.col(item_col), F.lit(lgk)).alias("sketch")),
        "sketch", {"lgk": lgk},
    )


def merge_hll(spark, batch: DataFrame, state_path: str, *,
              keys: list[str], item_col: str, lgk: int = DEFAULT_LGK,
              epoch: int | None = None,
              state_partitions: int = 1,
              partial: DataFrame | None = None) -> None:
    """Fold one batch into the per-group HLL state (state.fold).

    union(state ∪ partial(batch)) at the register level; additive state,
    so pass `epoch` (foreachBatch's epoch_id) for exactly-once under
    replay. All sketches in a state dir share one lgk: a partial stamped
    with another, or a state committed with another, raises before any
    register is read.

    `partial`, when given, is this batch's frame from
    `hll_partial(batch, keys, item_col, lgk)` — a caller draining
    several pending batches materializes the partials concurrently
    (operators/concurrency.checkpoint_all) while the folds stay
    sequential. Register union is per-slot MAX (associative,
    idempotent), so the state is identical. One state file by default.
    """
    def combine(old, p):
        if old is not None:
            p = (old[0].unionByName(p).groupBy(*keys)
                 .agg(F.hll_union_agg(F.col("sketch")).alias("sketch")))
        return {"": (p, state_partitions)}

    fold(spark, HLL, state_path, params={"lgk": lgk}, epoch=epoch,
         partial=lambda: partial if partial is not None
         else hll_partial(batch, keys, item_col, lgk),
         combine=combine)


def read_hll(spark, state_path: str) -> DataFrame:
    return read_state(spark, HLL, state_path)[0]


def hll_estimate(state: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., n_distinct_est) served from register state — no rescan."""
    return state.select(
        *keys, F.hll_sketch_estimate(F.col("sketch")).alias("n_distinct_est")
    )
