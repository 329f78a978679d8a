"""Recorded state-table schemas (operators/state.py write_table /
read_table): every rewrite-style state family records each table's
schema at commit, serves reads with it (no parquet schema-inference
job), and still reads and merges versions committed before schemas were
recorded."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators import (
    bloomfilter,
    cmsketch,
    freqsketch,
    histogram,
    hllsketch,
    kmv,
    retrieval,
    rollup,
)
from rag_pipelines_spark.operators.state import (
    SCHEMA_FILE,
    live_version_dir,
    read_table,
)


def _batch(spark, b: int):
    rows = [
        (b * 100 + i, ["en", "fr", None][i % 3], f"w{(i + b) % 7}",
         float(i % 5) + 0.5, f"w{i % 7} w{(i + 1) % 7} w{b}")
        for i in range(24)
    ]
    return spark.createDataFrame(
        rows, "rid long, g string, item string, v double, text string")


# family -> (merge(spark, batch, path), read(spark, path) -> DataFrames,
#            table dirs inside a version dir)
FAMILIES = {
    "rollup": (
        lambda s, b, p: rollup.merge_rollup(
            s, b, p, keys=["g"], measures={"v": ["count", "sum", "min", "max"]}),
        lambda s, p: [rollup.read_rollup(s, p)],
        [""],
    ),
    "histogram": (
        lambda s, b, p: histogram.merge_histogram(
            s, b, p, keys=["g"], col="v", width=1.0),
        lambda s, p: [histogram.read_histogram(s, p)],
        [""],
    ),
    "hll": (
        lambda s, b, p: hllsketch.merge_hll(s, b, p, keys=["g"], item_col="item"),
        lambda s, p: [hllsketch.read_hll(s, p)],
        [""],
    ),
    "kmv": (
        lambda s, b, p: kmv.merge_kmv(s, b, p, keys=["g"], item_col="item", k=16),
        lambda s, p: [kmv.read_kmv(s, p)],
        [""],
    ),
    "countmin": (
        lambda s, b, p: cmsketch.merge_cm(
            s, b, p, keys=["g"], item_col="item", depth=2, width=64),
        lambda s, p: [cmsketch.read_cm(s, p)[0]],
        ["counters"],
    ),
    "freq": (
        lambda s, b, p: freqsketch.merge_freq(
            s, b, p, keys=["g"], item_col="item", m=4),
        lambda s, p: list(freqsketch.read_freq(s, p)),
        ["items", "totals"],
    ),
    "corpus_stats": (
        lambda s, b, p: retrieval.merge_corpus_stats(s, b, p, text_col="text"),
        lambda s, p: list(retrieval.corpus_stats(s, p)),
        ["terms", "totals"],
    ),
    "bloom": (
        lambda s, b, p: bloomfilter.merge_bloom(
            s, b, p, key="item", m_bits=1 << 10, k=3),
        lambda s, p: [bloomfilter.read_bloom_words(s, p)],
        [""],
    ),
}


def _rows(dfs):
    return [sorted((tuple(r) for r in df.collect()), key=repr) for df in dfs]


def _tables(state: str, subdirs: list[str]) -> list[str]:
    live = live_version_dir(state)
    return [os.path.join(live, d) if d else live for d in subdirs]


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Every family merged twice (the second merge reads the first
    version through read_table)."""
    root = tmp_path_factory.mktemp("state_schema")
    out = {}
    for name, (merge, _read, _sub) in FAMILIES.items():
        path = str(root / name)
        for b in range(2):
            merge(spark, _batch(spark, b), path)
        out[name] = path
    return out


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_recorded_schema_equals_inferred(spark, states, family):
    _merge, read, subdirs = FAMILIES[family]
    tables = _tables(states[family], subdirs)
    for t in tables:
        assert os.path.isfile(os.path.join(t, SCHEMA_FILE)), t
        assert read_table(spark, t).schema == spark.read.parquet(t).schema, t
    served = read(spark, states[family])
    assert [df.schema for df in served] == [
        spark.read.parquet(t).schema for t in tables]


def _jobs_while(spark, fn) -> int:
    """Spark jobs launched by fn(), counted under a fresh job group. A
    one-job marker runs next in its own group: the status store applies
    listener events in order, so once the marker is visible every job
    fn() started is too."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    try:
        sc.setJobGroup(f"read-{tag}", "jobs launched by a state read")
        fn()
        sc.setJobGroup(f"marker-{tag}", "listener-bus marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"marker-{tag}"):
        assert time.time() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(f"read-{tag}"))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_building_reads_launches_no_job(spark, states, family):
    _merge, read, _sub = FAMILIES[family]
    path = states[family]
    read(spark, path)  # warm the driver-side code paths
    assert _jobs_while(spark, lambda: read(spark, path)) == 0


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_state_without_recorded_schema_reads_and_merges(
        spark, tmp_path, family):
    """A version committed before schemas were recorded (no
    _schema.json) reads through inference — which does launch a job —
    and still merges; the merged version records its schema again and
    holds the same rows as a state that never lost it."""
    merge, read, subdirs = FAMILIES[family]
    legacy, fresh = str(tmp_path / "legacy"), str(tmp_path / "fresh")
    for path in (legacy, fresh):
        merge(spark, _batch(spark, 0), path)
    for t in _tables(legacy, subdirs):
        os.unlink(os.path.join(t, SCHEMA_FILE))

    assert _rows(read(spark, legacy)) == _rows(read(spark, fresh))
    assert _jobs_while(spark, lambda: read(spark, legacy)) >= len(subdirs)

    for path in (legacy, fresh):
        merge(spark, _batch(spark, 1), path)
    for t in _tables(legacy, subdirs):
        assert os.path.isfile(os.path.join(t, SCHEMA_FILE)), t
    assert _rows(read(spark, legacy)) == _rows(read(spark, fresh))


def test_compaction_records_schema(spark, tmp_path):
    path = str(tmp_path / "rollup")
    for b in range(2):
        rollup.merge_rollup(spark, _batch(spark, b), path, keys=["g"],
                            measures={"v": ["count", "sum"]})
    before = _rows([rollup.read_rollup(spark, path)])
    rollup.compact_rollup_state(spark, path, num_partitions=2)
    live = live_version_dir(path)
    assert os.path.isfile(os.path.join(live, SCHEMA_FILE))
    assert read_table(spark, live).schema == spark.read.parquet(live).schema
    assert _rows([rollup.read_rollup(spark, path)]) == before


@pytest.mark.parametrize("family", ["hll", "freq"])
def test_schema_through_uri_backend(spark, tmp_path, family):
    """URI state paths publish and read the schema file through the
    Hadoop backend — freq writes its two tables on worker threads,
    which have no active SparkSession."""
    merge, read, subdirs = FAMILIES[family]
    path = "file://" + str(tmp_path / family)
    for b in range(2):
        merge(spark, _batch(spark, b), path)
    for t in _tables(path, subdirs):
        assert os.path.isfile(os.path.join(t[len("file://"):], SCHEMA_FILE))
        assert read_table(spark, t).schema == spark.read.parquet(t).schema
    assert _jobs_while(spark, lambda: read(spark, path)) == 0
    assert read(spark, path)[0].select(F.count("*")).first()[0] > 0
