"""Mergeable histogram sketch: quantiles for the incremental-rollup family.

operators/rollup.py refuses holistic aggregates (median/percentiles) —
they are not mergeable from partials. This module is the standing answer:
a fixed-bin-width histogram IS mergeable (bin counts add), deterministic
(bin = floor(value/width), no randomized sketch state), and gives
quantile estimates with error bounded by the bin width. Trade-off vs
t-digest/KLL: you pick the resolution up front (width), in exchange for
exact mergeability, bitwise-reproducible state, and an oracle-checkable
formula — the right trade for a differential-tested engine.

Scale posture: the state is one row per (key, occupied bin) — bounded by
range/width per key regardless of row count. The batch partial is one
hash aggregate; the merge is a union + re-aggregate keyed like the
state. Quantile extraction windows over bins WITHIN a key (a few hundred
rows per partition at any corpus size — never data-sized).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    commit_version,
    epoch_already_applied,
    live_version_dir,
    read_table,
    write_table,
    writer_lease,
)


def histogram_partial(batch: DataFrame, keys: list[str], col: str,
                      width: float) -> DataFrame:
    """One (keys..., bin, n) row per occupied bin; bin = floor(col/width).

    NULL values are excluded (standard quantile semantics) — a null bin
    would sort first in the cumulative window, pad every real bin's
    cumulative count, and shift/NULL-poison the quantile estimates.
    """
    return (
        batch.filter(F.col(col).isNotNull())
        .select(*keys, F.floor(F.col(col) / F.lit(width)).alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
    )


def merge_histogram(spark, batch: DataFrame, state_path: str, *,
                    keys: list[str], col: str, width: float,
                    epoch: int | None = None) -> None:
    """Fold one batch into histogram state (manifest scheme,
    operators/state.py). counts add ⇒ N merges == one-shot, pinned by
    test. Additive state: pass `epoch` for exactly-once under replay
    (operators/state.py::applied_epoch)."""
    if epoch_already_applied(state_path, "histogram state", epoch):
        return  # replayed micro-batch: already folded in
    partial = histogram_partial(batch, keys, col, width)
    with writer_lease(state_path, what="histogram state"):
        # authoritative re-check INSIDE the lease (see rollup.py: the
        # pre-lease check is a fast path; a concurrent holder may have
        # committed this epoch while we computed the partial)
        if epoch_already_applied(state_path, "histogram state", epoch):
            return
        live = live_version_dir(state_path, what="histogram state")
        if live is not None:
            partial = (
                read_table(spark, live)
                .unionByName(partial)
                .groupBy(*keys, "bin")
                .agg(F.sum("n").alias("n"))
            )
        merged = partial
        commit_version(
            state_path,
            lambda vdir: write_table(merged, vdir),
            epoch=epoch,
            prev=os.path.basename(live) if live else None,
        )


def read_histogram(spark, state_path: str) -> DataFrame:
    live = live_version_dir(state_path, what="histogram state")
    if live is None:
        raise FileNotFoundError(f"no histogram state at {state_path}")
    return read_table(spark, live)


def histogram_quantile(hist: DataFrame, keys: list[str], width: float,
                       prob: float) -> DataFrame:
    """Quantile estimate per key from a (keys..., bin, n) histogram.

    pos = prob * total; the estimate interpolates inside the first bin
    whose cumulative count reaches pos:
        est = width * (bin + (pos - cum_before) / n_bin)
    Error ≤ width against the EMPIRICAL-CDF (inverted-CDF / type-1)
    quantile — that value provably lies in the reached bin (pinned by a
    hypothesis property test). Order-statistic interpolation estimators
    (numpy's default linear method) are a different definition whose
    distance from any histogram is bounded by the data gap instead. All
    arithmetic is per-row IEEE double on integer inputs — bitwise equal
    in the DuckDB oracle mirror (queries/warehouse.py).
    """
    w_cum = (
        W.partitionBy(*keys).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.select(
        *keys,
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(W.partitionBy(*keys)).alias("total"),
    )
    pos = F.lit(prob) * F.col("total").cast("double")
    eligible = cum.filter(F.col("cum").cast("double") >= pos)
    w_first = W.partitionBy(*keys).orderBy("bin")
    first = eligible.withColumn(
        "rk", F.row_number().over(w_first)
    ).filter(F.col("rk") == 1)
    est = F.lit(width) * (
        F.col("bin").cast("double")
        + (pos - (F.col("cum") - F.col("n")).cast("double"))
        / F.col("n").cast("double")
    )
    # round(.,9) is cross-engine-safe only while |est| < ~1e6 (15 sig
    # digits total — see the q_aqp_sum sf10 lesson in SCALE.md); the
    # estimate's magnitude is the VALUE domain, so for larger domains
    # scale the values or widen the bin instead of trusting the round.
    # round(), not int(): int(0.29 * 100) == 28 (float truncation)
    return first.select(*keys, F.round(est, 9).alias(f"q{round(prob * 100)}"))
