#!/usr/bin/env python
"""Fixed cost of a Python task: a 1-task Python job against a 1-task JVM job.

Starts a ``get_spark`` session and times each job 9 times, drops the first
2 (daemon start, codegen) and prints the medians. The gap between the two
is what every Python-crossing task pays before its body runs; re-check it
whenever the Python or Spark version changes (see ``hadoop_source_spark.
pyworker`` for the per-task zip-directory rescan it guards against).

Usage: python scripts/pytask_overhead.py
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_source_spark import get_spark  # noqa: E402

RUNS, DROPPED = 9, 2


def _median_ms(job) -> float:
    ts = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        job()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts[DROPPED:]) * 1e3, 1)


def main() -> None:
    spark = get_spark(app_name="hss-pytask-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    out = {
        "python_1task_ms": _median_ms(lambda: sc.parallelize([0], 1).map(lambda x: x + 1).collect()),
        "jvm_1task_ms": _median_ms(lambda: spark.range(0, 1, 1, 1).collect()),
        "python": sys.version.split()[0],
        "spark": spark.version,
        "daemon_module": sc.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
