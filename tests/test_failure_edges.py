"""Failure and scale edges: errors are deterministic, and the scripts run
without the optional fixtures."""

from __future__ import annotations

import importlib.util
import os
import sys
import time
from types import SimpleNamespace

import pytest

from hadoop_source_spark import workload

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_overlap_raises_the_earliest_submitted_failure():
    """The later-submitted thunk fails first; the earlier one's error is
    the one raised, with its own traceback."""

    def slow_key_error():
        time.sleep(0.2)
        raise KeyError("first")

    def fast_value_error():
        raise ValueError("second")

    with pytest.raises(KeyError, match="first") as info:
        workload._overlap(slow_key_error, fast_value_error)
    assert info.traceback[-1].name == "slow_key_error"
    assert workload._overlap(lambda: 1, lambda: 2) == [1, 2]


def test_corescale_warms_up_on_the_timed_sf_without_the_warm_fixture(
    monkeypatch, tmp_path
):
    spec = importlib.util.spec_from_file_location(
        "corescale", os.path.join(_ROOT, "scripts", "corescale.py")
    )
    corescale = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(corescale)
    seen = []
    query = SimpleNamespace(
        fn=lambda spark, sf_dir: seen.append(sf_dir) or SimpleNamespace(count=lambda: 0)
    )
    spark = SimpleNamespace(sparkContext=SimpleNamespace(
        defaultParallelism=1, setLogLevel=lambda level: None
    ))
    sf = str(tmp_path / "sf")
    monkeypatch.setattr(corescale, "WARM_SF_DIR", str(tmp_path / "absent"))
    monkeypatch.setattr(corescale, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(corescale.workload, "QUERIES", {q: query for q in corescale.QUERIES})
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf)
    monkeypatch.setattr(sys, "argv", ["corescale.py", "1"])
    corescale.main()
    assert seen == [sf] * (2 * len(corescale.QUERIES))
