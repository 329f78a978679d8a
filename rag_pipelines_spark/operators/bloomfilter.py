"""Spark-native Bloom-filter prefilter for large anti-joins.

The reference's delta detection is an in-memory pandas `isin` against the
master key set (fda_watcher.py:397-403) — exact, but it requires the whole
key set on one machine. The Spark-shaped scale path for "which of these
N new records have we seen before?" is an anti-join, and at 100 TB the
anti-join's shuffle (both sides repartitioned on the key) is the dominant
cost even though the vast majority of new rows match nothing.

This module builds a Bloom filter over the master keys AS A DATAFRAME
AGGREGATION — no driver collect, no JVM sketch objects, no Python in the
hot path — and uses it to split the new batch map-side:

  build:  master keys -> explode k=xxhash64(key, seed) bit positions
          -> groupBy(word = pos div 64) bit_or(mask)
          => a (word, bits) frame of <= m/64 rows (m/8 bytes of payload)
  probe:  k BROADCAST hash joins of the new batch against that frame,
          one per seed — each is an O(1) lookup in the broadcast hash
          relation, map-side, zero shuffle. (A 1-row map<word,bits>
          probed with element_at is the tempting alternative and it is
          QUADRATIC: Spark's ArrayBasedMapData lookup is a linear scan,
          measured 137 s vs ~4 s at sf10.)
  verify: only the "maybe seen" rows (true dups + fpp of the rest) enter
          the exact anti-join; "definitely new" rows bypass it entirely.

The result is EXACTLY the plain anti-join (Bloom filters have no false
negatives), so the operator is oracle-checkable; the win is that the
anti-join's shuffled volume drops from |new| to |dups| + fpp*|new|.

When to use which tier (measured, SCALE.md "Bloom-prefiltered delta"):
  - master keys broadcastable (< ~200 MB): plain broadcast anti-join is
    already shuffle-free — use it, the bloom adds nothing.
  - master keys over the broadcast limit but m/8 bytes under it: the
    bloom IS the broadcastable digest (10 bits/key ~ fpp 1% vs 32-byte
    fingerprints = 25x smaller) — this operator's regime.
  - bloom too big to broadcast (>~10^10 keys): range-partition the
    master and apply per range.
An undersized m degrades fpp (less pruning), never correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_build",
    "bloom_probe",
    "bloom_anti_join",
    "merge_bloom",
    "read_bloom_words",
]


def _positions(col, m_bits: int, k: int) -> list:
    """k bit positions in [0, m_bits) via independently seeded xxhash64."""
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def bloom_build(keys: DataFrame, key: str, m_bits: int, k: int) -> DataFrame:
    """Aggregate `keys[key]` into a (w, bits) frame: the non-empty 64-bit
    words of the m_bits bitmap.

    One shuffle of (word, mask) pairs with map-side partial bit_or — the
    post-shuffle size is <= m_bits/64 rows regardless of key count.
    """
    pos = keys.select(
        F.explode(F.array(*_positions(F.col(key), m_bits, k))).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def bloom_probe(
    new: DataFrame, words: DataFrame, key: str, m_bits: int, k: int
) -> DataFrame:
    """`new` plus a boolean `_bfmaybe`: true iff all k probed bits are set.

    One broadcast hash join per seed — each an O(1) lookup, all map-side
    (the k joins fuse into one stage; the words frame is broadcast once
    per distinct alias). Missing words read as bits=0.
    """
    out = new
    checks = []
    for i, pos in enumerate(_positions(F.col(key), m_bits, k)):
        out = out.withColumn(f"_bfp{i}", pos)
        w_i = words.select(
            F.col("w").alias(f"_bfw{i}"), F.col("bits").alias(f"_bfb{i}")
        )
        out = out.join(
            F.broadcast(w_i),
            F.shiftright(F.col(f"_bfp{i}"), 6) == F.col(f"_bfw{i}"),
            "left",
        )
        checks.append(
            F.expr(
                f"(shiftright(coalesce(_bfb{i}, CAST(0 AS BIGINT)), "
                f"CAST(_bfp{i} % 64 AS INT)) & 1) = 1"
            )
        )
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    drop = [c for i in range(k) for c in (f"_bfp{i}", f"_bfw{i}", f"_bfb{i}")]
    return out.withColumn("_bfmaybe", cond).drop(*drop)


def bloom_anti_join(
    new: DataFrame,
    master: DataFrame,
    key: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Rows of `new` whose `key` does not appear in `master` — exact
    anti-join semantics (NULL-keyed new rows are kept, as with left_anti),
    with a Bloom prefilter so only maybe-seen rows reach the join."""
    words = bloom_build(master.select(key), key, m_bits, k)
    probed = bloom_probe(new, words, key, m_bits, k)
    definite_new = probed.filter(~F.col("_bfmaybe")).drop("_bfmaybe")
    candidates = probed.filter(F.col("_bfmaybe")).drop("_bfmaybe")
    verified_new = candidates.join(master.select(key), on=key, how="left_anti")
    # the verify join reorders `key` first; align columns by name
    return definite_new.unionByName(verified_new.select(*definite_new.columns))


# ---------------------------------------------------------------------------
# Accreted bloom state (manifest/epoch/lease contract) — the continuous-
# ingest front door's prefilter. Word-wise bit_or is commutative,
# associative and idempotent, so accretion == one-shot bloom EXACTLY and
# replayed epochs cannot corrupt the bitmap.
#
# Safety ordering (streaming/incremental.py): the bloom merges BEFORE the
# seen commit marker. A crash between the two leaves the bloom covering
# MORE than the marker-committed key set — safe, because the bloom only
# routes rows toward the exact verify join (false "maybe" = wasted work).
# The reverse order would allow a marker-committed key missing from the
# bloom, whose re-arrival probes "definitely new" and skips the verify —
# a silent duplicate. Over-coverage is free; under-coverage is a bug.
# ---------------------------------------------------------------------------


def merge_bloom(spark, keys_df: DataFrame, state_path: str, *,
                key: str, m_bits: int = 1 << 20, k: int = 5,
                epoch: int | None = None,
                state_partitions: int = 1) -> None:
    """Fold one batch's keys into the accreted (w, bits) bloom state.

    The state carries its (m_bits, k) in-band; merging with DIFFERENT
    parameters raises instead of silently mixing position spaces — a
    mixed bitmap would produce probe FALSE NEGATIVES, i.e. silently
    admitted duplicates (same posture as hll_union_agg's lgk mismatch).
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

    if epoch_already_applied(state_path, "bloom state", epoch):
        return
    partial = bloom_build(keys_df.select(key), key, m_bits, k)
    with writer_lease(state_path, what="bloom state"):
        if epoch_already_applied(state_path, "bloom state", epoch):
            return
        live = live_version_dir(state_path, what="bloom state")
        if live is not None:
            state = read_table(spark, live)
            got = bloom_state_params(state)
            if got is not None and got != (m_bits, k):
                raise ValueError(
                    f"bloom state at {state_path} was built with "
                    f"(m_bits, k)={got}; refusing to merge with "
                    f"({m_bits}, {k}) — mixed position spaces cause probe "
                    "false negatives (silent duplicates)"
                )
            merged = (
                state.select("w", "bits")
                .unionByName(partial)
                .groupBy("w")
                .agg(F.expr("bit_or(bits)").alias("bits"))
            )
        else:
            merged = partial
        stamped = merged.withColumn("m_bits", F.lit(m_bits)).withColumn(
            "k", F.lit(k)
        )
        commit_version(
            state_path,
            lambda vdir: write_table(stamped, vdir, state_partitions),
            epoch=epoch,
            prev=os.path.basename(live) if live else None,
        )


def read_bloom_words(spark, state_path: str) -> DataFrame | None:
    """The live (w, bits, m_bits, k) frame, or None if no bloom has
    committed yet. Probe with the STATE's own parameters
    (bloom_state_params), never a caller-remembered value."""
    from rag_pipelines_spark.operators.state import live_version_dir, read_table

    live = live_version_dir(state_path, what="bloom state")
    return None if live is None else read_table(spark, live)


def bloom_state_params(words: DataFrame) -> tuple[int, int] | None:
    """(m_bits, k) the state was built with (constant columns, any row);
    None for an empty state (zero keys folded — no constraint yet)."""
    row = words.select("m_bits", "k").first()
    return None if row is None else (row.m_bits, row.k)
