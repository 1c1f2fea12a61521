"""sort_ingest: one client's closed loop of bulk loads.

One load takes the generated records, already split into ``runs`` unsorted
run files, through four operations in turn: write them as a
block-compressed SequenceFile, read it back, k-way merge the runs by key
(the SequenceFile.Sorter analog) and persist the merged stream as the
key-sorted MapFile-analog store. The next load starts when the last one
finished. Every load is checked for record count, an order-independent
xxhash64 checksum of key and value, and global key order: of the merged
stream as a consumer reads it, and of the persisted store's files.
"""

from __future__ import annotations

import functools
import os
import shutil
from dataclasses import asdict

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from common import Env, dir_bytes
from spans import Tracer

RECORDS = gen.RecordSpec()
STAGES = ("write", "read", "merge", "persist")


def checksum(df) -> tuple[int, int]:
    """(rows, sum of xxhash64(key, value)) — independent of row order."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("key", "value").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    name = "sort_ingest"
    warmup_passes = 2
    pass_is_request = True  # the client asks for a whole load

    def __init__(self, env: Env, tracer: Tracer, seed: int):
        self.env, self.tracer, self.seed = env, tracer, seed
        self.load = 0  # loads started, for unique output directories
        self.seq_bytes = self.sorted_bytes = 0

    # -- set-up ---------------------------------------------------------
    def generate(self) -> dict:
        self.tbl = gen.records(self.seed, RECORDS)
        self.user_bytes = int(
            pc.sum(pc.binary_length(self.tbl["key"])).as_py()
            + pc.sum(pc.binary_length(self.tbl["value"])).as_py()
        )
        lengths = pc.binary_length(self.tbl["value"])
        return {
            "records": asdict(RECORDS),
            "user_bytes": self.user_bytes,
            "value_len_p50_p99": [
                float(x) for x in pc.quantile(lengths, q=[0.5, 0.99]).to_pylist()
            ],
            "distinct_keys": len(pc.unique(self.tbl["key"])),
            "input_sha256": gen.table_digest(self.tbl),
        }

    def stage(self) -> None:
        """One parquet file per unsorted run, and the expected checksum."""
        src = self.env.fresh_dir("records")
        os.makedirs(src)
        self.run_files = []
        for r in range(RECORDS.runs):
            p = os.path.join(src, f"run-{r:03d}.parquet")
            part = self.tbl.filter(pc.equal(self.tbl["run"], r)).select(["key", "value"])
            pq.write_table(part, p)
            self.run_files.append(p)
        self.expected = checksum(self.env.spark.read.parquet(*self.run_files))

    def layer_extras(self) -> dict[str, float]:
        return {
            "io.write_sequence_file.bytes_per_user_byte": self.seq_bytes / self.user_bytes,
            "io.write_kv_sorted.bytes_per_user_byte": self.sorted_bytes / self.user_bytes,
        }

    def stored_per_user_byte(self) -> float:
        return (self.seq_bytes + self.sorted_bytes) / self.user_bytes

    def manifest_extras(self) -> dict:
        return {"spark_storage_memory_mb": round(self.env.storage_memory_mb(), 1)}

    def open_oracle(self) -> None:
        pass

    def close(self) -> None:
        pass

    # -- operations -----------------------------------------------------
    def next_pass(self) -> list[tuple[str, dict]]:
        """One load: its four operations in order, sharing one context."""
        self.load += 1
        ctx = {
            "seq_dir": self.env.fresh_dir(f"seq-{self.load}"),
            "sorted_dir": self.env.fresh_dir(f"sorted-{self.load}"),
        }
        return [(op, ctx) for op in STAGES]

    def records_of(self, op: str, result) -> int:
        # a load's records count once, when its persist completes
        return RECORDS.n if op == "persist" else 0

    def run(self, op: str, ctx: dict):
        spark, tr = self.env.spark, self.tracer
        from hadoop_source_spark import io as hio
        from hadoop_source_spark.operators import relational

        seq_dir = ctx["seq_dir"]
        if op == "write":
            runs = [spark.read.parquet(p) for p in self.run_files]
            df = functools.reduce(lambda x, y: x.union(y), runs)
            with tr.span("io.write_sequence_file.exec", action=True):
                hio.write_sequence_file(df, seq_dir, compression="block")
        elif op == "read":
            with tr.span("io.read_sequence_file"):
                ctx["read_back"] = hio.read_sequence_file(spark, seq_dir)
            with tr.span("io.read_sequence_file.exec", action=True):
                ctx["read_back"].write.format("noop").mode("overwrite").save()
        elif op == "merge":
            parts = sorted(f for f in os.listdir(seq_dir) if f.startswith("part-"))
            with tr.span("operators.relational.merge_sorted"):
                ctx["merged"] = relational.merge_sorted(
                    [hio.read_sequence_file(spark, os.path.join(seq_dir, f))
                     for f in parts],
                    ["key"],
                )
            with tr.span("operators.relational.merge_sorted.exec", action=True):
                ctx["merged"].write.format("noop").mode("overwrite").save()
        elif op == "persist":
            with tr.span("io.write_kv_sorted.exec", action=True):
                hio.write_kv_sorted(ctx["merged"], ctx["sorted_dir"])
        else:
            raise ValueError(op)

    # -- correctness ------------------------------------------------------
    def check(self, op: str, ctx: dict, result) -> bool:
        if op == "write":
            self.seq_bytes = dir_bytes(ctx["seq_dir"])
            return self.seq_bytes > 0
        if op == "read":
            return checksum(ctx["read_back"]) == self.expected
        if op == "merge":
            return merged_in_order(ctx["merged"], self.expected)
        self.sorted_bytes = dir_bytes(ctx["sorted_dir"])
        ok = (
            checksum(self.env.spark.read.parquet(ctx["sorted_dir"])) == self.expected
            and keys_in_global_order(ctx["sorted_dir"])
        )
        shutil.rmtree(ctx["seq_dir"])
        shutil.rmtree(ctx["sorted_dir"])
        return ok


def merged_in_order(df, expected: tuple[int, int]) -> bool:
    """The merged stream, read in partition order as a consumer sees it:
    keys non-decreasing, and the input's record count and checksum."""
    rows = df.select(
        "key", F.xxhash64("key", "value").cast("decimal(38,0)").alias("h")
    ).collect()
    keys = [r["key"] for r in rows]
    return (
        (len(rows), sum(int(r["h"]) for r in rows)) == expected
        and all(a <= b for a, b in zip(keys, keys[1:]))
    )


def keys_in_global_order(path: str) -> bool:
    """Each part file sorted by key, and the part files' key ranges
    ordered and disjoint in part order."""
    prev_max = None
    for f in sorted(os.listdir(path)):
        if not (f.startswith("part-") and f.endswith(".parquet")):
            continue
        keys = pq.read_table(os.path.join(path, f), columns=["key"])["key"]
        if len(keys) == 0:
            continue
        keys = keys.combine_chunks()
        if not pc.all(pc.less_equal(keys[:-1], keys[1:])).as_py():
            return False
        lo, hi = keys[0].as_py(), keys[-1].as_py()
        if prev_max is not None and lo <= prev_max:
            return False
        prev_max = hi
    return prev_max is not None
