"""Mergeable Count-Min sketch state — point-frequency estimates over an
unbounded item domain in FIXED space (Cormode & Muthukrishnan 2005).

Where the freq sketch (operators/freqsketch.py) answers "top-k items per
group", Count-Min answers the complementary point query — "how often did
THIS item occur?" — for any item, including ones that never ranked top-k,
in O(depth × width) counters per group regardless of vocabulary size:

    counters[d][h_d(item) % width] += n        (build / merge = counter add)
    est(item) = min over d of counters[d][h_d(item) % width]

Guarantee: est >= true count always (counters only over-count via
collisions), and est <= true + 2eN with probability 1 - (1/2)^depth for
width >= 2/e (the classic bound). Counters are plain sums, so the merge
of two sketches is element-wise addition — exactly mergeable, any merge
tree, bitwise deterministic (counts ride decimal(30,0) like every other
sketch family here).

Engine-portable hashing (the driver-oracle contract): row h_d(item) is
the first 15 md5 nibbles of "<d>|<item>" as a long, mod width — the SAME
recipe as operators/dsir.py::_bucket, so DuckDB replicates every counter
bitwise:  CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || '|' || item),
1, 15)) AS BIGINT) % width. Unlike most CM deployments the hash is NOT
pairwise-independent per row (md5 truncations are fine in practice and
deterministic across engines, which is what the correctness gate needs);
the error bound is validated empirically in tests/test_cmsketch.py.

Scale design (100 TB):
  * The only corpus-sized shuffle is the exact (keys, item) pre-count —
    map-side combinable. The depth-fold explodes the VOCABULARY-sized
    counted frame (×depth), then re-reduces to <= |groups|·depth·width
    counter rows.
  * State is O(|groups|·depth·width) rows forever — merging a batch into
    a 100 TB history touches KBs of counters, never history.
  * Estimates are a broadcast-sized probe frame left-joined against the
    counter state on (keys, d, bucket) — an equi-join, never a scan of
    raw history.

Manifest/versioned-prefix state + epoch guard + writer lease: identical
contract to operators/rollup.py (see operators/state.py).

ref: fda_watcher.py recomputes pandas value_counts per run and keeps no
frequency state at all; this is the fixed-space engine-native upgrade
(same role the freq/HLL/KMV sketches play for their query classes).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.freqsketch import _join_null_safe
from rag_pipelines_spark.operators.statefs import backend_for, is_uri
from rag_pipelines_spark.operators.state import (
    commit_version,
    epoch_already_applied,
    live_version_dir,
    read_table,
    write_table,
    writer_lease,
)

_CNT = "decimal(30,0)"


def cm_bucket(d: Column, item: Column, width: int) -> Column:
    """Engine-portable counter column for hash row d: first 15 md5
    nibbles of "<d>|<item>" as a long, mod width (both operands
    non-negative, so pmod == DuckDB's %)."""
    key = F.concat_ws("|", d.cast("string"), item.cast("string"))
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long"),
        F.lit(width),
    )


def cm_partial(batch: DataFrame, keys: list[str], item_col: str, *,
               depth: int, width: int) -> DataFrame:
    """Count-Min counters of ONE batch: (keys..., d, bucket, cnt).

    One exact hash-agg over the batch (map-side combined), then the
    depth-fold runs on the vocabulary-sized counted frame. NULL items
    are excluded (nothing to count, matching the freq/HLL convention);
    NULL group keys are a first-class group (groupBy keeps them)."""
    nn = batch.filter(F.col(item_col).isNotNull())
    counted = nn.groupBy(*keys, F.col(item_col).alias("item")).agg(
        F.count("*").cast(_CNT).alias("n")
    )
    rows = counted.select(
        *keys,
        "item",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).withColumn("bucket", cm_bucket(F.col("d"), F.col("item"), width))
    return rows.groupBy(*keys, "d", "bucket").agg(
        F.sum("n").cast(_CNT).alias("cnt")
    )


def _read_meta(spark, live: str) -> tuple[int, int]:
    # meta is two ints — a backend text file since r10 (reading it as a
    # Spark parquet job cost ~0.2-0.3 s per read, 3+ reads per serve
    # query; the text read is ~1 ms through the same statefs backend the
    # crash drills exercise). Legacy parquet `meta` dirs still resolve.
    from rag_pipelines_spark.operators.statefs import backend_for

    fs = backend_for(live)
    pj = os.path.join(live, "meta.json")
    if fs.isfile(pj):
        import json

        m = json.loads(fs.read_text(pj))
        return int(m["depth"]), int(m["width"])
    p = os.path.join(live, "meta")
    if not is_uri(p):
        import pyarrow.parquet as pq

        tbl = pq.read_table(p)
        return int(tbl.column("depth")[0].as_py()), int(
            tbl.column("width")[0].as_py()
        )
    m = spark.read.parquet(p).collect()[0]
    return int(m.depth), int(m.width)


def merge_cm(spark, batch: DataFrame, state_path: str, *,
             keys: list[str], item_col: str, depth: int = 4,
             width: int = 1024, epoch: int | None = None,
             state_partitions: int = 1,
             partial: DataFrame | None = None) -> None:
    """Fold one batch into the Count-Min state (element-wise counter
    add). Additive state: pass `epoch` (foreachBatch's epoch_id) for
    exactly-once under replay. (depth, width) are pinned in the state's
    meta table — merging with different params raises (counters from
    different geometries are not addable).

    State files default to ONE partition: the counter table is hard-
    capped at |groups|·depth·width rows (~4k per group at the 4×1024
    default) — `state_partitions` fans out for high-cardinality keys.

    `partial`, when given, is this batch's counter frame already
    produced by `cm_partial(batch, keys, item_col, depth, width)` with
    the SAME parameters and already materialized (localCheckpoint) — a
    caller draining several pending batches builds the per-batch
    partials concurrently (operators/concurrency.checkpoint_all) while
    the state folds stay strictly sequential; counters are element-wise
    adds, so state bytes are bit-identical to the sequential path."""
    if epoch_already_applied(state_path, "count-min state", epoch):
        return
    # materialize the batch partial BEFORE anything else (freqsketch
    # discipline): the corpus-sized pre-count runs exactly once, with
    # the plan's full parallelism, and every downstream consumer (the
    # merge union + the state write) reads the KB-sized counter frame —
    # a lazy partial would re-run the corpus agg inside the write job,
    # where a coalesce(1) would ALSO collapse it to one task
    # defensively materialize EITHER source (r10 ADVICE): a caller-
    # supplied lazy partial would silently reintroduce the re-run-inside-
    # the-write pathology this comment warns about; localCheckpoint on an
    # already-checkpointed KB-sized frame is a few ms — cheap insurance
    b = (
        partial
        if partial is not None
        else cm_partial(batch, keys, item_col, depth=depth, width=width)
    ).localCheckpoint(eager=True)
    with writer_lease(state_path, what="count-min state"):
        if epoch_already_applied(state_path, "count-min state", epoch):
            return
        live = live_version_dir(state_path, what="count-min state")
        if live is None and partial is not None:
            # FIRST fold of a caller-built partial (r10 ADVICE): the
            # geometry guards below only compare LATER merges against
            # meta.json, so a partial built with different depth/width
            # would be written as state unchecked and meta would record
            # the CALL's geometry, not the bytes'. Validate on the
            # KB-sized counter frame: a non-empty cm_partial carries
            # every d in 0..depth-1 (the depth explode), and every
            # bucket is < width by construction.
            bounds = b.agg(
                F.max("d").alias("md"), F.max("bucket").alias("mb")
            ).first()
            if bounds["md"] is not None and (
                int(bounds["md"]) != depth - 1 or int(bounds["mb"]) >= width
            ):
                raise ValueError(
                    "count-min partial geometry mismatch: partial has "
                    f"max d={bounds['md']} max bucket={bounds['mb']}, "
                    f"merge called with depth={depth} width={width}"
                )
        if live is not None:
            sd, sw = _read_meta(spark, live)
            if (sd, sw) != (depth, width):
                raise ValueError(
                    f"count-min geometry mismatch: state is depth={sd} "
                    f"width={sw}, merge called with depth={depth} "
                    f"width={width}"
                )
            old = read_table(spark, os.path.join(live, "counters"))
            counters = (
                old.unionByName(b)
                .groupBy(*keys, "d", "bucket")
                .agg(F.sum("cnt").cast(_CNT).alias("cnt"))
            )
        else:
            counters = b

        def _write(vdir: str) -> None:
            write_table(counters, os.path.join(vdir, "counters"),
                        state_partitions)
            # meta = two ints: an atomic backend text file, not a Spark
            # parquet job. History: createDataFrame cost ~6 s/commit,
            # the r9 range()+lit rewrite ~0.5 s — still a whole job for
            # two ints; the text publish is ~1 ms and rides the same
            # statefs backend (temp + rename) the crash drills cover.
            import json

            backend_for(state_path).publish_text(
                vdir, "meta.json", json.dumps({"depth": depth, "width": width})
            )

        commit_version(
            state_path,
            _write,
            epoch=epoch,
            prev=os.path.basename(live) if live else None,
        )


def read_cm(spark, state_path: str):
    """(counters_df, (depth, width)) of the live Count-Min state."""
    live = live_version_dir(state_path, what="count-min state")
    if live is None:
        raise FileNotFoundError(f"no count-min state at {state_path}")
    return (
        read_table(spark, os.path.join(live, "counters")),
        _read_meta(spark, live),
    )


def cm_estimate(spark, state_path: str, probes: DataFrame, *,
                keys: list[str]) -> DataFrame:
    """Point-frequency estimates from state: for each probe row
    (keys..., item), est = min over d of the addressed counter (absent
    counter = 0 — an item whose every row lands in an untouched bucket
    genuinely never occurred). Returns (keys..., item, est) with
    est >= true count always.

    The probe frame is serving-batch-sized; the join against the
    bounded counter state is an equi-join on (keys, d, bucket)."""
    counters, (depth, width) = read_cm(spark, state_path)
    p = probes.select(
        *keys,
        "item",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
    ).withColumn("bucket", cm_bucket(F.col("d"), F.col("item"), width))
    joined = _join_null_safe(
        p, counters, [*keys, "d", "bucket"], "left"
    ).withColumn("cnt0", F.coalesce(F.col("cnt"), F.lit(0).cast(_CNT)))
    return joined.groupBy(*keys, "item").agg(
        F.min("cnt0").cast("long").alias("est")
    )


def cm_join_size(counters_a: DataFrame, counters_b: DataFrame, *,
                 keys: list[str] | None = None) -> DataFrame:
    """Estimate an equi-join's output cardinality from two Count-Min
    sketches WITHOUT running the join (the AMS/CM inner-product
    estimator: |A join B on k| = Σ_k a_k·b_k <= Σ_bucket cntA·cntB for
    every hash row, so the min over depth rows is a one-sided
    overestimate — Cormode & Muthukrishnan 2005 §4.2).

    Both sketches must share geometry AND the item column (the join
    key). `keys` are optional group columns carried through (e.g. a
    per-partition-date estimate); None/[] estimates one global size.
    A group present in only ONE sketch is still reported — with est=0,
    the true size of a join whose other side has no rows for that group
    (full-outer on the keys, missing-side counters read as 0), honoring
    the documented (keys..., est) per-group contract.

    This is the 100 TB planner's primitive: sizing a prospective join
    costs |groups|·depth·width counter rows — KBs — instead of a
    shuffle of both inputs. Output: (keys..., est) with est >= true.

    Counter products ride decimal(19,0)×decimal(19,0) -> decimal(38,0)
    (exact to 1e38; counts are <= input rows so products fit far below
    that at any real scale), summed exactly — bitwise reproducible in
    DuckDB for the oracle."""
    keys = keys or []
    a = counters_a.select(
        *keys, "d", "bucket", F.col("cnt").cast("decimal(19,0)").alias("ca")
    )
    b = counters_b.select(
        *keys, "d", "bucket", F.col("cnt").cast("decimal(19,0)").alias("cb")
    )
    # Full-outer on (keys, d, bucket) with NULL-safe key equality and
    # coalesced output keys: buckets missing on one side contribute a 0
    # product (bitwise-identical sums for shared groups), and one-sided
    # groups survive to the output as est=0 instead of being dropped.
    jk = [*keys, "d", "bucket"]
    b2 = b
    for i, k in enumerate(jk):
        b2 = b2.withColumnRenamed(k, f"__nk{i}")
    cond = None
    for i, k in enumerate(jk):
        c = a[k].eqNullSafe(F.col(f"__nk{i}"))
        cond = c if cond is None else cond & c
    prods = a.join(b2, cond, "full_outer").select(
        *[
            F.coalesce(a[k], F.col(f"__nk{i}")).alias(k)
            for i, k in enumerate(jk)
        ],
        F.coalesce(F.col("ca"), F.lit(0).cast("decimal(19,0)")).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0).cast("decimal(19,0)")).alias("cb"),
    )
    per_row = prods.groupBy(*keys, "d").agg(
        F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,0)")).alias("ip")
    )
    return per_row.groupBy(*keys).agg(
        F.min("ip").cast("long").alias("est")
    )
