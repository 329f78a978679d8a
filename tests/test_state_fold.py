"""The fold contract of the rewrite-style state families
(operators/state.py::fold), pinned once for all eight: an epoch replay
is a no-op, a reset epoch counter raises, a held writer lease raises, and
a merge whose parameters differ from the live version's raises — after
a parameter check that launches no Spark job."""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

import pytest

from rag_pipelines_spark.operators import (
    bloomfilter,
    cmsketch,
    freqsketch,
    histogram,
    hllsketch,
    kmv,
    retrieval,
    rollup,
    state,
)
from rag_pipelines_spark.operators.state import (
    PARAMS_FILE,
    live_version_dir,
    writer_lease,
)
from tests.test_state_schema import _batch

# family -> merge(spark, batch, path, epoch, other_params); other_params
# folds with a parameter the first merge did not use
FAMILIES = {
    "rollup": lambda s, b, p, e, o=False: rollup.merge_rollup(
        s, b, p, keys=["g"],
        measures={"v": ["count"] if o else ["count", "sum"]}, epoch=e),
    "histogram": lambda s, b, p, e, o=False: histogram.merge_histogram(
        s, b, p, keys=["g"], col="v", width=2.0 if o else 1.0, epoch=e),
    "hll": lambda s, b, p, e, o=False: hllsketch.merge_hll(
        s, b, p, keys=["g"], item_col="item", lgk=13 if o else 12, epoch=e),
    "kmv": lambda s, b, p, e, o=False: kmv.merge_kmv(
        s, b, p, keys=["g"], item_col="item", k=32 if o else 16, epoch=e),
    "countmin": lambda s, b, p, e, o=False: cmsketch.merge_cm(
        s, b, p, keys=["g"], item_col="item", depth=2,
        width=128 if o else 64, epoch=e),
    "freq": lambda s, b, p, e, o=False: freqsketch.merge_freq(
        s, b, p, keys=["g"], item_col="item", m=8 if o else 4, epoch=e),
    "corpus_stats": lambda s, b, p, e, o=False: retrieval.merge_corpus_stats(
        s, b, p, text_col="text", epoch=e),
    "bloom": lambda s, b, p, e, o=False: bloomfilter.merge_bloom(
        s, b, p, key="item", m_bits=1 << 11 if o else 1 << 10, k=3, epoch=e),
}
# corpus stats have no parameter that shapes the state (whitespace
# tokens, one row per term): there is no mismatch to refuse
WITH_PARAMS = sorted(f for f in FAMILIES if f != "corpus_stats")


def _live(path: str) -> str:
    return os.path.basename(live_version_dir(path))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_epoch_replay_is_noop(spark, tmp_path, family):
    merge, path = FAMILIES[family], str(tmp_path / family)
    merge(spark, _batch(spark, 0), path, 0)
    live = _live(path)
    merge(spark, _batch(spark, 1), path, 0)  # replayed epoch, other rows
    assert _live(path) == live


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_reset_epoch_raises(spark, tmp_path, family):
    merge, path = FAMILIES[family], str(tmp_path / family)
    for e in range(2):
        merge(spark, _batch(spark, e), path, e)
    with pytest.raises(RuntimeError, match="checkpoint"):
        merge(spark, _batch(spark, 2), path, 0)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_held_lease_raises(spark, tmp_path, family):
    merge, path = FAMILIES[family], str(tmp_path / family)
    with writer_lease(path, what="another writer"):
        with pytest.raises(RuntimeError, match="locked by another writer"):
            merge(spark, _batch(spark, 0), path, 0)
    assert live_version_dir(path) is None
    merge(spark, _batch(spark, 0), path, 0)  # released -> proceeds


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_every_commit_records_params(spark, tmp_path, family):
    merge, path = FAMILIES[family], str(tmp_path / family)
    merge(spark, _batch(spark, 0), path, 0)
    with open(os.path.join(live_version_dir(path), PARAMS_FILE)) as f:
        params = json.load(f)
    assert (params == {}) == (family == "corpus_stats"), params


def _jobs_inside_lease(spark, monkeypatch, fn) -> int:
    """Spark jobs launched by fn() after it acquired the writer lease:
    the lease is wrapped to switch to a fresh job group once held. A
    one-job marker then runs in its own group; once the status store
    shows it, every job fn() started is there too."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    held = state.writer_lease

    @contextmanager
    def counting_lease(*args, **kwargs):
        with held(*args, **kwargs):
            sc.setJobGroup(f"lease-{tag}", "jobs launched inside the lease")
            yield

    monkeypatch.setattr(state, "writer_lease", counting_lease)
    try:
        fn()
        sc.setJobGroup(f"marker-{tag}", "listener-bus marker")
        sc.parallelize([0], 1).count()
    finally:
        monkeypatch.setattr(state, "writer_lease", held)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"marker-{tag}"):
        assert time.time() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(f"lease-{tag}"))


@pytest.mark.parametrize("family", WITH_PARAMS)
def test_param_mismatch_raises_without_a_job(spark, tmp_path, monkeypatch,
                                             family):
    merge, path = FAMILIES[family], str(tmp_path / family)
    merge(spark, _batch(spark, 0), path, 0)
    live = _live(path)

    def mismatched():
        with pytest.raises(ValueError, match="refusing to merge"):
            merge(spark, _batch(spark, 1), path, 1, True)

    assert _jobs_inside_lease(spark, monkeypatch, mismatched) == 0
    assert _live(path) == live
    # the count sees the jobs of a merge that gets past the check
    assert _jobs_inside_lease(
        spark, monkeypatch, lambda: merge(spark, _batch(spark, 1), path, 1)) > 0
    assert _live(path) != live
