"""Manifest-addressed versioned state prefixes — shared by every
incremental operator that persists small key/stat state between batches
(near-dup band keys, BM25 corpus statistics).

Layout: ``<state_path>/MANIFEST`` (one line naming the live prefix) plus
``<state_path>/v-<hex>/`` parquet directories. A version dir holds::

    v-<hex>/
      part-*.parquet   the state table (or one subdir per table, e.g.
                       items/ + totals/, each laid out the same way)
      _schema.json     the table's Spark schema, recorded by write_table
                       so read_table skips parquet schema inference
      _epoch           applied micro-batch epoch (write_epoch)
      _prev            superseded version's name (write_prev)

Spark's readers skip ``_``-prefixed files, so the side files never reach
a scan. The live state is named by a POINTER FILE, never by directory
renames: publishing the one small
manifest is atomic on every supported store (POSIX/HDFS rename; a
single-key PUT on object stores) — whereas multi-key directory
"renames" are non-atomic copies. The live path therefore exists at
every instant; no crash window can make the state "look empty".

Where the files live is a backend concern (``operators/statefs.py``):
plain paths use the original ``os.*`` fast path (fsync'd, O_EXCL, the
semantics the crash matrix pins); URI paths (``file://``, ``hdfs://``,
``s3a://``...) route through the Hadoop FileSystem API of the active
SparkSession — the same connector stack and credentials the cluster
already uses for data. Per-store atomicity and the object-store lease
caveat are documented in statefs.py.

A root that holds committed parquet data we cannot resolve — version dirs
without a MANIFEST, or a MANIFEST naming a missing dir — RAISES instead
of returning "fresh": treating such a state as empty would silently
forget everything the state exists to remember (re-admitting seen
documents, zeroing document frequencies), the one failure mode an
incremental operator must never have. Crash drills are pinned in
tests/test_incremental_neardup.py and tests/test_continuous_ingest.py,
and re-run through the Hadoop (``file://``) backend in
tests/test_statefs.py.

Single-writer by design: the reference's watcher is a singleton cron
(fda_watcher.py scheduling), so batches and compactions are serialized —
and since round 5 the assumption is ENFORCED, not assumed: every mutating
operator acquires `writer_lease` (pid+timestamp lease file, stale-lease
takeover) and a concurrent second writer raises instead of interleaving
manifest flips.
"""

from __future__ import annotations

import os
import time
import uuid

from contextlib import contextmanager

from rag_pipelines_spark.operators.statefs import backend_for

MANIFEST = "MANIFEST"
PREV_FILE = "_prev"
LEASE = "LEASE"


def write_manifest(state_path: str, version: str) -> None:
    """Atomically point the state's MANIFEST at ``version`` (temp +
    rename on rename-atomic stores; one small-key PUT on object stores
    — see statefs.py)."""
    backend_for(state_path).publish_text(state_path, MANIFEST, version + "\n")


def new_version_name() -> str:
    return f"v-{uuid.uuid4().hex[:12]}"


def write_prev(version_dir: str, prev_version: str | None) -> None:
    """Record the superseded version's name INSIDE the new version dir
    (before the manifest flip, so it commits with the data).

    Why: `gc_orphans` retains live's predecessor, because a lazily
    evaluated reader (a DataFrame resolved against the old live before a
    merge ran) may still reference the old files mid-action — the
    single-writer lease serializes WRITERS, not readers. One generation
    of grace is the whole contract: a reader must not span two merges.
    """
    if prev_version is None:
        return
    backend_for(version_dir).write_text(
        os.path.join(version_dir, PREV_FILE), prev_version + "\n"
    )


def prev_version_name(version_dir: str) -> str | None:
    fs = backend_for(version_dir)
    p = os.path.join(version_dir, PREV_FILE)
    if not fs.isfile(p):
        return None
    return fs.read_text(p).strip() or None


@contextmanager
def writer_lease(state_path: str, what: str = "state", ttl_s: float = 3600.0):
    """Enforce the single-writer contract with a lease file.

    Atomic create-if-absent (``O_EXCL`` locally, ``create(overwrite=
    false)`` through Hadoop — see statefs.py for the object-store
    caveat) makes acquisition exclusive; the file holds
    ``<token> <pid> <unix-ts>`` — the random token is the OWNERSHIP
    record. A live lease (mtime age <= ttl_s) makes the second writer
    RAISE — interleaved manifest flips would race GC against the other
    writer's un-flipped version dir. A stale lease (holder crashed
    without releasing) is taken over by an atomic RENAME-claim (of N
    concurrent takers exactly one rename succeeds; the claimed content
    is re-checked against the staleness read so a lease re-acquired
    mid-takeover is restored, not stolen) followed by one re-acquire
    attempt; a taker that loses any of those races raises rather than
    proceeding unlocked.

    Release is ownership-checked: the holder re-reads the lease and
    unlinks ONLY if the token is still its own, so a writer that was
    (wrongly or rightly) usurped after exceeding ttl_s cannot delete the
    usurper's lease and let a third writer in. ttl_s is therefore a hard
    bound the caller must respect: a merge/compaction expected to run
    longer than the default hour MUST pass a larger ttl_s — takeover of
    a lease whose holder is alive-but-slow leads to exactly the
    interleaved-flip corruption this lock exists to prevent (a
    heartbeat-refreshing lease is the conditional-PUT-era upgrade; the
    reference's singleton cron makes the static TTL sufficient here).
    """
    fs = backend_for(state_path)
    fs.makedirs(state_path)
    path = os.path.join(state_path, LEASE)
    token = uuid.uuid4().hex

    def _acquire() -> None:
        fs.create_excl(path, f"{token} {os.getpid()} {time.time()}\n")

    def _owns() -> bool:
        try:
            return fs.read_text(path).split(" ", 1)[0] == token
        except FileNotFoundError:
            return False

    # Acquisition runs under the backend's dir lock (flock locally —
    # serializes every taker outright, kernel-released on crash; no-op
    # through the Hadoop API, where the rename-claim protocol below is
    # the takeover guard and the lease tier is advisory-grade on object
    # stores per statefs.py).
    with fs.lock_dir(state_path):
        try:
            _acquire()
        except FileExistsError:
            # Staleness verdict and takeover claim should refer to one
            # observation: read content and mtime together.
            try:
                observed, mt = fs.read_text_with_mtime(path)
                age = time.time() - mt
            except FileNotFoundError:
                observed, age = None, float("inf")  # released btw probe & read
            if age <= ttl_s:
                raise RuntimeError(
                    f"{what} at {state_path} is locked by another writer "
                    f"(LEASE age {age:.0f}s <= ttl {ttl_s:.0f}s) — the "
                    "single-writer contract forbids concurrent merges/"
                    "compactions; wait for the holder or, if it is known "
                    "dead, remove the LEASE file"
                )
            # Stale: CLAIM it by atomic rename to a name only we use — of
            # N concurrent takers exactly one rename succeeds, so only one
            # taker ever removes the old lease (a bare unlink let taker A
            # delete taker B's freshly re-acquired lease and both proceed
            # — the round-5 advice race).
            if observed is not None:
                claim = os.path.join(state_path, f".{LEASE}.stale-{token}")
                try:
                    fs.rename(path, claim)
                except FileNotFoundError:
                    pass  # another taker claimed it first; contend below
                else:
                    claimed = fs.read_text(claim)
                    if claimed != observed:
                        # Between our staleness read and the rename, the
                        # old holder released and a NEW writer acquired —
                        # we just stole a live lease. Put it back without
                        # clobbering any third writer's lease and bow out.
                        fs.restore_if_absent(claim, path)
                        raise RuntimeError(
                            f"{what} at {state_path} is locked by another "
                            "writer (lease was re-acquired during takeover)"
                        )
                    fs.unlink(claim)
            _acquire()  # a concurrent taker winning here raises to caller
    try:
        yield
    finally:
        with fs.lock_dir(state_path):
            if _owns():
                fs.unlink(path, missing_ok=True)


def live_version_dir(state_path: str, what: str = "state") -> str | None:
    """Resolve the LIVE version directory of a manifest-addressed state.

    Returns the live directory, or ``None`` only when the state is
    *provably* fresh (root missing/empty, or only data-less version dirs
    from a crashed first init). Unresolvable-but-committed data raises
    (see module docstring). ``what`` names the operator in error text.
    """
    fs = backend_for(state_path)
    if not fs.isdir(state_path):
        return None
    names = fs.listdir(state_path)
    manifest = os.path.join(state_path, MANIFEST)
    if fs.isfile(manifest):
        version = fs.read_text(manifest).strip()
        if not version.startswith("v-"):
            # empty/garbage pointer (e.g. truncated by power loss before
            # fsync-era manifests): joining '' would resolve to the state
            # root itself — raise the designed diagnostic instead
            raise RuntimeError(
                f"{what} MANIFEST at {manifest} holds {version!r}, not a "
                "version name — restore it from the latest v-* dir; "
                "refusing to treat state as empty"
            )
        live = os.path.join(state_path, version)
        if not fs.isdir(live):
            raise RuntimeError(
                f"{what} MANIFEST names '{version}' but {live} does not "
                "exist — restore the version dir or the previous "
                "MANIFEST; refusing to treat state as empty"
            )
        return live
    versions = [n for n in names if n.startswith("v-")]
    with_data = [
        v
        for v in versions
        if fs.has_parquet_recursive(os.path.join(state_path, v))
    ]
    if with_data:
        raise RuntimeError(
            f"{what} at {state_path} has committed version dirs "
            f"{with_data} but no {MANIFEST} — a crashed first init or a "
            "deleted manifest; refusing to treat state as empty"
        )
    return None  # fresh (empty root, or only data-less init leftovers)


EPOCH_FILE = "_epoch"


def write_epoch(version_dir: str, epoch: int) -> None:
    """Record the micro-batch epoch INSIDE a version dir (before the
    manifest flip, so the epoch commits atomically with the data —
    a crash between them leaves an unreferenced dir, not a lie)."""
    backend_for(version_dir).write_text(
        os.path.join(version_dir, EPOCH_FILE), str(epoch) + "\n"
    )


def applied_epoch(state_path: str, what: str = "state") -> int | None:
    """Epoch recorded in the LIVE version, or None (no state / no epoch).

    The idempotent-foreachBatch contract: a merge passed `epoch=` skips
    itself when applied_epoch >= epoch — Structured Streaming replays a
    failed micro-batch with the SAME epoch_id and data, so per-state
    epoch guards turn at-least-once replays into exactly-once state.
    """
    live = live_version_dir(state_path, what=what)
    if live is None:
        return None
    fs = backend_for(state_path)
    p = os.path.join(live, EPOCH_FILE)
    if not fs.isfile(p):
        return None
    return int(fs.read_text(p).strip())


def epoch_already_applied(state_path: str, what: str,
                          epoch: int | None) -> bool:
    """Shared epoch guard for every rewrite-style merge (rollup,
    histogram, corpus-stats, freq-sketch, hll-sketch): True when this
    exact epoch is already folded into the live version (replayed
    micro-batch — caller returns without touching state); raises when
    the state has applied a LATER epoch (the stream checkpoint was reset
    against existing state — epoch counters restart per checkpoint, and
    proceeding would double-count every batch)."""
    if epoch is None:
        return False
    done = applied_epoch(state_path, what=what)
    if done is None:
        return False
    if done == epoch:
        return True
    if done > epoch:
        raise RuntimeError(
            f"{what} at {state_path} already applied epoch {done} > "
            f"incoming {epoch} — the stream checkpoint was reset against "
            "existing state (epoch counters restart per checkpoint); "
            "restore the checkpoint or start a fresh state root"
        )
    return False


def commit_version(state_path: str, write_fn, *, epoch: int | None,
                   prev: str | None) -> str:
    """Shared version-commit ritual for rewrite-style merges: make a new
    version dir, let ``write_fn(vdir)`` populate it, record the epoch
    (inside the dir, so it commits atomically with the data via the
    flip) and the predecessor (reader-grace GC record), flip the
    MANIFEST, sweep orphans. Caller must hold the writer lease. Returns
    the new version dir."""
    backend_for(state_path).makedirs(state_path)
    version = new_version_name()
    vdir = os.path.join(state_path, version)
    write_fn(vdir)
    if epoch is not None:
        write_epoch(vdir, epoch)
    write_prev(vdir, prev)
    write_manifest(state_path, version)
    gc_orphans(state_path)  # retains the predecessor for in-flight readers
    return vdir


SCHEMA_FILE = "_schema.json"


def write_table(df, path: str, parts: int | None = None) -> None:
    """Write one state table (coalesced to ``parts`` files when given)
    and record its schema as ``<path>/_schema.json``. Call it inside a
    commit_version ``write_fn``: the schema then lands in the version
    dir before the MANIFEST flip, so every live table has one."""
    if parts is not None:
        df = df.coalesce(parts)
    df.write.mode("overwrite").parquet(path)
    # the frame's own session: callers overlap table writes on worker
    # threads (concurrency.run_all), which have no active session
    backend_for(path, df.sparkSession).publish_text(
        path, SCHEMA_FILE, df.schema.json())


def read_table(spark, path: str):
    """Read a state table written by write_table with its recorded
    schema. An unrecorded read runs Spark's parquet schema-inference job
    (one job and ~0.1 s per table, the dominant cost of a KB-sized
    serve read). Versions committed before schemas were recorded have no
    ``_schema.json`` and fall back to inference."""
    import json

    from pyspark.sql.types import StructType

    try:
        recorded = backend_for(path, spark).read_text(
            os.path.join(path, SCHEMA_FILE))
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(recorded))).parquet(path)


def gc_orphans(state_path: str) -> list[str]:
    """Delete version dirs not named by the MANIFEST; returns removed names.

    The LISTING is taken first and the manifest read after: any version
    created later than the listing is never in the sweep set, so under
    the single-writer assumption (and even under a late-arriving second
    writer) the live dir cannot be deleted. Stale manifest temp files
    (crashed write_manifest) are swept too.

    Reader grace: the live version's recorded predecessor (its `_prev`
    file, written by the merge that superseded it) is RETAINED for one
    generation — a serving query whose DataFrame was resolved against
    the old live just before the flip can still finish; it is swept by
    the NEXT merge's GC. Readers therefore must not span two merges
    (collect within one merge interval) — that residual contract is
    documented here instead of a FileNotFound mid-action.
    """
    fs = backend_for(state_path)
    names = [
        n
        for n in (fs.listdir(state_path) if fs.isdir(state_path) else [])
        if n.startswith("v-") or n.startswith(f".{MANIFEST}.tmp-")
    ]
    live = live_version_dir(state_path)
    if live is None:
        return []
    live_name = os.path.basename(live)
    keep = {live_name, prev_version_name(live)}
    removed = []
    for n in names:
        if n in keep:
            continue
        fs.rmtree(os.path.join(state_path, n))
        removed.append(n)
    return removed


# ---------------------------------------------------------------------------
# Epoch commit markers — atomic "this epoch's APPEND finished" records for
# states that accrete per-epoch files instead of rewriting a version.
#
# Why row presence is not a commit record: a multi-file parquet append's
# job commit (FileOutputCommitter) renames task outputs one by one — a
# crash mid-commit leaves a PARTIAL file set visible. If "any row with
# epoch N exists" is read as "epoch N done", the replayed micro-batch
# skips the append and the missing rows are lost forever (the round-4
# bug in both the near-dup key append and the ingest seen-keys append).
# The marker is one fsync'd hidden file (`_epoch-N.committed`, ignored
# by Spark's readers) written only AFTER the append's job commit
# returned, so its existence proves the full file set is visible; its
# absence makes the replay redo the (idempotent) write.
# ---------------------------------------------------------------------------


def _marker_path(dir_: str, epoch: int) -> str:
    return os.path.join(dir_, f"_epoch-{epoch}.committed")


def mark_epoch_committed(dir_: str, epoch: int) -> None:
    """Record that epoch's append fully committed (fsync'd, crash-durable)."""
    backend_for(dir_).write_text(_marker_path(dir_, epoch), "1\n",
                                 sync_dir=True)


def epoch_is_committed(dir_: str, epoch: int) -> bool:
    return backend_for(dir_).isfile(_marker_path(dir_, epoch))


def max_committed_epoch(dir_: str) -> int | None:
    """Highest epoch with a commit marker, or None. Epochs are assigned
    contiguously by Structured Streaming and commit in order, so 'all
    committed epochs' == 'epoch <= max marker' — one range predicate a
    partitioned read can prune with."""
    fs = backend_for(dir_)
    if not fs.isdir(dir_):
        return None
    epochs = [
        int(n[len("_epoch-"):-len(".committed")])
        for n in fs.listdir(dir_)
        if n.startswith("_epoch-") and n.endswith(".committed")
    ]
    return max(epochs) if epochs else None
