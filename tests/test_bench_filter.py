"""SPARK_GRAFT_BENCH_QUERIES parsing in bench.py: tokens are stripped,
empty means the full set, and an unknown name is refused."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import bench


def test_unset_or_empty_is_full_set():
    assert bench.parse_only("") is None
    assert bench.parse_only(" , ,") is None


def test_tokens_are_stripped():
    assert bench.parse_only(" q_tpch_q1 ,q_topk,  pipeline_watcher ") == {
        "q_tpch_q1", "q_topk", "pipeline_watcher"}


def test_unknown_name_is_named():
    with pytest.raises(ValueError, match="q_tpch_q99, q_typo"):
        bench.parse_only("q_tpch_q1,q_typo, q_tpch_q99")


def test_unknown_name_exits_nonzero_before_session():
    env = dict(os.environ, SPARK_GRAFT_BENCH_QUERIES="q_typo")
    res = subprocess.run(
        [sys.executable, "bench.py"], cwd=os.path.dirname(bench.__file__),
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert "q_typo" in res.stderr
    assert res.stdout == ""
