"""Mergeable frequent-items (heavy-hitters) sketch state — the
Misra-Gries / mergeable-summaries answer to the rollup's refusal of
holistic "top-k by frequency" (operators/rollup.py raises on it; this
module is the sketch tier, exactly as operators/histogram.py is the
sketch tier for percentiles).

Sketch (per group): at most ``m`` (item, est) counters plus the group's
EXACT accumulated pruning offset ``err`` (the sum of the (m+1)-th-count
subtractions applied along this state's merge history), giving the
guarantee after ANY merge tree::

    est <= true_count <= est + err        and   err <= n_total/(m+1)

(the right inequality is the classic Agarwal et al. mergeable-summaries
telescoping bound; tracking the realized err instead of the worst case
is strictly tighter and — crucially — EXACTLY ZERO whenever m >= the
group's distinct item count, certifying the served counts exact).
Totals live in a side-table (keys, n_total, err), the same two-table
state shape as BM25 corpus stats.

State shape per group: <= m item rows + 1 totals row — O(|groups|·m)
regardless of corpus size, which is the whole point: a 100 TB stream's
per-language top terms are maintained by folding batch-sized partials
into a KB-sized state, never re-scanning history (same
incremental-view-maintenance shape as merge_rollup).

Exactness property used by the driver oracle: when m >= the group's
distinct item count, no pruning ever happens, d == 0 at every merge, and
est == true_count BITWISE — so the fixture query (vocab 31, m=64) is
hash-checked against DuckDB's exact GROUP BY counts, while the m <
distinct regime is pinned locally by the error-bound test
(tests/test_freqsketch.py).

Counts ride decimal(30,0): exact, associative — merge-order invariant
in the no-prune regime (a double sum would not be).

Manifest/versioned-prefix state + epoch guard + writer lease: folded by
operators/state.py::fold, with m as the state's recorded parameter.

ref: fda_watcher.py keeps no frequency state at all (the reference
recomputes pandas value_counts per run) — this is the engine-native
upgrade the 100 TB path needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.state import (
    StateFamily,
    fold,
    read_state,
    stamp,
)

FREQ = StateFamily("freq-sketch state", tables=("items", "totals"),
                   mismatch="summary-size mismatch")

_CNT = "decimal(30,0)"

# Target rows per state/partial partition when the caller doesn't pin a
# count. Sketch rows are ~100 B (group keys + item + decimal), so 4M rows
# ≈ a few hundred MB per task — comfortably in-memory for the window/
# joins, while keeping the common KB-sized state in ONE file.
_ROWS_PER_STATE_PARTITION = 4_000_000


def _derived_partitions(frame: DataFrame, override: int | None) -> int:
    """Partition count for a MATERIALIZED (localCheckpoint'd) frame:
    override if given, else ceil(rows / _ROWS_PER_STATE_PARTITION) — one
    file for vocabulary-sized states, fanned out for a high-cardinality
    group key instead of funneling it through one task. The count is
    metadata-cheap on a checkpointed frame."""
    if override is not None:
        return override
    return max(1, -(-frame.count() // _ROWS_PER_STATE_PARTITION))


def _sized(df: DataFrame, n: int) -> DataFrame:
    """Set the partition count regardless of direction: coalesce can
    only shrink, and AQE often leaves these tiny shuffles at ONE
    partition — so fanning out (the whole point of the derived count for
    high-cardinality groups) needs a repartition."""
    return df.repartition(n) if n > 1 else df.coalesce(1)


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str],
                    how: str) -> DataFrame:
    """Equi-join on group keys with NULL-safe equality (<=>), so a NULL
    group key is a first-class group — symmetric with merge_rollup /
    merge_hll, whose groupBy already keeps NULL groups (r5 advice: the
    old plain equi-joins dropped NULL groups' pruning offsets, so
    freq_partial had to exclude them and a NULL-lang doc vanished from
    the frequent-terms state while remaining counted in rollup/HLL).
    Still a hash-joinable condition (BroadcastHashJoin supports <=>).

    Keys are referenced through their DataFrames and the right side's
    dropped in one call, with no renaming: every DataFrame call
    re-analyses the plan, and on the serve paths (freq_topk,
    cm_estimate) a per-key rename loop cost 4-17 ms of driver time per
    request (an aliasing select, which needs both schemas, cost more
    still). Both sides must come from different sources, as both
    callers' do (a state table vs. a request frame or a second state
    table): on a shared lineage ``right[k]`` resolves to the left key."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return left.join(right, cond, how).drop(*[right[k] for k in keys])


def _prune(items: DataFrame, keys: list[str], m: int):
    """Reduce a (keys..., item, est) frame to <= m rows per group, MG-style:
    subtract the (m+1)-th largest count from the survivors and drop the
    rest. Returns (pruned_items, d_frame) where d_frame is the per-group
    subtraction (keys..., _d) actually applied — the increment to the
    group's realized error bound (absent group => 0). Window partitions
    are per-GROUP (bounded at the merged summary size
    <= 2m + distinct(batch), never data-sized).

    The per-group subtraction rides a second window over the SAME
    partition keys (it shares the row_number's exchange; no d-frame
    join), and partitionBy groups NULL keys together natively. max()
    over the single rk==m+1 row IS that row's est."""
    w = W.partitionBy(*keys).orderBy(F.col("est").desc(), F.col("item"))
    wg = W.partitionBy(*keys)
    ranked = items.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_dd",
        F.max(F.when(F.col("_rk") == m + 1, F.col("est"))).over(wg),
    )
    d = ranked.filter(F.col("_rk") == m + 1).select(
        *keys, F.col("est").cast(_CNT).alias("_d")
    )
    pruned = (
        ranked.filter(F.col("_rk") <= m)
        .select(
            *keys,
            "item",
            (F.col("est") - F.coalesce(F.col("_dd"), F.lit(0).cast(_CNT)))
            .cast(_CNT)
            .alias("est"),
        )
        .filter(F.col("est") > 0)
    )
    return pruned, d


def _add_prune_err(totals: DataFrame, d: DataFrame, keys: list[str]):
    """(keys..., n_total, err) per group: the summed ``totals`` rows with
    the prune's per-group subtraction ``_d`` added to err. One union-sum
    groupBy instead of a null-safe d-join (r10): groupBy keeps NULL
    group keys natively and decimal sums are exact, so the values are
    bit-identical to the join formulation."""
    return (
        totals.select(*keys, "n_total", "err")
        .unionByName(d.select(*keys, F.lit(0).cast(_CNT).alias("n_total"),
                              F.col("_d").alias("err")))
        .groupBy(*keys)
        .agg(F.sum("n_total").cast(_CNT).alias("n_total"),
             F.sum("err").cast(_CNT).alias("err"))
    )


def freq_partial(batch: DataFrame, keys: list[str], item_col: str,
                 m: int, partial_partitions: int | None = None):
    """(items, totals) summary of ONE batch: exact per-item counts pruned
    to m per group (exact counts are a valid MG summary with zero error;
    pruning subtracts d from survivors and adds d to the group's realized
    err), plus exact group totals. ONE hash-agg shuffle over the batch —
    map-side combined; the counted frame is materialized
    (vocabulary-sized, not batch-sized) so items and totals both derive
    from it without re-scanning the batch (n_total == Σ est over the
    un-pruned counts, by construction). ``partial_partitions`` pins the
    post-count partitioning; default derives it from the counted size
    (see _derived_partitions)."""
    # NULL group keys are a real group (every keys-join here is
    # NULL-safe, as rollup/hll keep NULL groups via groupBy); NULL ITEMS
    # are excluded (nothing to count), matching the hll-sketch.
    nn = batch.filter(F.col(item_col).isNotNull())
    counted = (
        nn.groupBy(*keys, F.col(item_col).alias("item"))
        .agg(F.count("*").cast(_CNT).alias("est"))
        .localCheckpoint(eager=True)
    )
    # vocabulary-sized → one task for the downstream window/joins beats
    # 32 near-empty ones; a huge group-by (high-cardinality keys) fans
    # out instead of funneling
    counted = _sized(counted, _derived_partitions(counted, partial_partitions))
    items, d = _prune(counted, keys, m)
    items = stamp(items, "est", {"m": m})
    totals = _add_prune_err(
        counted.select(*keys, F.col("est").alias("n_total"),
                       F.lit(0).cast(_CNT).alias("err")), d, keys)
    return items, totals


def merge_freq(spark, batch: DataFrame, state_path: str, *,
               keys: list[str], item_col: str, m: int,
               epoch: int | None = None,
               state_partitions: int | None = None,
               partial: tuple[DataFrame, DataFrame] | None = None) -> None:
    """Fold one batch into the frequent-items state (state.fold).

    Merge rule (mergeable-summaries MG): per-item ests ADD across the two
    summaries (outer-union + sum), then the merged list re-prunes to m.
    totals add exactly. Additive state: pass `epoch` (foreachBatch's
    epoch_id) for exactly-once under replay. A state committed with
    another m, or a partial stamped with one, raises.

    `state_partitions` sizes the state files. Default None DERIVES the
    count from the merged summary's measured size: a vocabulary-sized
    state stays one file, a high-cardinality group key (e.g. per-domain)
    fans out instead of funneling one task (r5 advice).

    `partial`, when given, is this batch's (items, totals) summary from
    `freq_partial(batch, keys, item_col, m, ...)` with the SAME
    keys/item_col/m — a caller draining several pending batches builds
    the partials concurrently (operators/concurrency.run_all) while the
    folds stay sequential; the state bytes are those of the sequential
    path.
    """
    def combine(old, b):
        items, totals = b
        if old is None:
            # first init: one extra vocab-sized count (of the
            # checkpointed partial) sizes the files
            n_parts = _derived_partitions(items, state_partitions)
        else:
            # materialize the summed union once (state-sized, tiny): the
            # prune consumes it three times (ranked, d, totals) and would
            # otherwise re-run the read+union+shuffle per consumer
            summed = (
                old[0].unionByName(items)
                .groupBy(*keys, "item")
                .agg(F.sum("est").cast(_CNT).alias("est"))
                .localCheckpoint(eager=True)
            )
            n_parts = _derived_partitions(summed, state_partitions)
            items, d = _prune(_sized(summed, n_parts), keys, m)
            totals = _add_prune_err(old[1].unionByName(totals), d, keys)
        return {"items": (_sized(items, n_parts), None),
                "totals": (_sized(totals, n_parts), None)}

    fold(spark, FREQ, state_path, params={"m": m}, epoch=epoch,
         partial=lambda: partial if partial is not None else freq_partial(
             batch, keys, item_col, m, partial_partitions=state_partitions),
         combine=combine)


def read_freq(spark, state_path: str):
    """(items, totals) DataFrames of the live freq-sketch state."""
    return tuple(read_state(spark, FREQ, state_path))


def freq_topk(spark, state_path: str, *, keys: list[str],
              k: int) -> DataFrame:
    """Serve top-k per group from state with the REALIZED error bound.

    Output: (keys..., item, est, err_bound, rk) where
    est <= true <= est + err_bound; err_bound is the group's accumulated
    pruning offset (<= n_total/(m+1), the classic bound — and exactly 0
    when the state never pruned, certifying the served counts and the
    ranking EXACT: the regime the fixture oracle hash-checks).
    Deterministic tie-break on item.
    """
    items, totals = read_freq(spark, state_path)
    w = W.partitionBy(*keys).orderBy(F.col("est").desc(), F.col("item"))
    return (
        _join_null_safe(items, totals, keys, "inner")
        .withColumn("err_bound", F.col("err").cast("long"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*keys, "item", F.col("est").cast("long").alias("est"),
                "err_bound", "rk")
    )
