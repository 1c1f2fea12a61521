#!/usr/bin/env python
"""Core-count scaling probe at sf1 (r15, VERDICT item 8).

The driver's 8-vs-32-core ratios at sf0.1 sit ≈1 because every headline
query there is within a few multiples of the ~0.10-0.15 s per-action
scheduling floor (single-digit-MB inputs) — a floor-bound measurement,
not ignored cores. This script produces the ratio ≫1 evidence the
record needs: the most data-bound queries at sf1 (10x data), same
methodology (min of N, count sink, warm codegen), at
local[$SPARK_GRAFT_CPUS]. Run once with 32 and once with 8; see
SCALING.md §"Reading the core-count probe" for the recorded numbers.

Usage: SPARK_GRAFT_CPUS=8 python scripts/corescale.py [reps]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_source_spark import get_spark, workload  # noqa: E402

# warm-up input; the timed SF is used instead when it is absent
WARM_SF_DIR = "/root/testdata/sf0.01"

QUERIES = [
    "dedup_minhash_lsh",
    "ec_rs_reconstruct_check",
    "bm25_search",
    "hybrid_search_rrf",
    "dedup_connected_components",
]


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/repo/.scale/sf1"
    )
    spark = get_spark(app_name="hss-corescale")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    warm_dir = WARM_SF_DIR if os.path.isdir(WARM_SF_DIR) else sf_dir
    for name in QUERIES:  # warm codegen
        workload.QUERIES[name].fn(spark, warm_dir).count()
    out = {}
    for name in QUERIES:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            workload.QUERIES[name].fn(spark, sf_dir).count()
            ts.append(time.perf_counter() - t0)
        out[name] = round(min(ts), 3)
        print(f"# {name}: {out[name]:.3f}s (min of {reps})", file=sys.stderr)
    print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
