"""interactive_reads: one client's closed loop of point, range and
namespace reads, and of analytics queries.

Three stores are built in set-up: a bloom-indexed, key-sorted parquet
store (``io.write_kv_bloom``) that every key operation re-reads from disk;
a file namespace held in Spark's cache, with a churned second snapshot on
disk; and the program's star-schema tables as parquet, which the
analytics operations read through queries of ``workload``'s registry. Each
operation's result is checked against DuckDB over the same files, outside
the timed region.
"""

from __future__ import annotations

import os
from dataclasses import asdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from common import Env, dir_bytes
from spans import Tracer

STORE = gen.StoreSpec()
NAMESPACE = gen.NamespaceSpec()
PROBES = gen.ProbeSpec()
TABLES = gen.TablesSpec()

# Registry queries of ``workload`` run as analytics operations, one per
# module they exercise: operators.rangejoin, llmops.dedup,
# llmops.similarity and llmops.textstats.
ANALYTICS = ("range_join_attribution", "dedup_exact", "ann_cosine_topk", "token_entropy_report")
ANALYTICS_TABLES = ("events", "documents", "embeddings")  # the tables they read

# One pass over every operation type is the unit of work: the measured loop
# runs whole passes, each shuffled by the seed, so every run sees the same
# mix and only the order, keys and paths vary.
DECK = (
    "get", "get_batch", "get_closest", "contains", "find", "ls_head", "du",
    "count", "file_distribution", "snapshot_diff", *ANALYTICS,
)


class Workload:
    name = "interactive_reads"
    warmup_passes = 2
    pass_is_request = False

    def __init__(self, env: Env, tracer: Tracer, seed: int):
        self.env, self.tracer, self.seed = env, tracer, seed
        self.rng = np.random.default_rng([seed, 100])

    # -- set-up ---------------------------------------------------------
    def generate(self) -> dict:
        self.store_tbl = gen.kv_store(self.seed, STORE)
        self.ns1_tbl, self.ns2_tbl = gen.namespace(self.seed, NAMESPACE)
        self.star = gen.star_schema(self.seed, TABLES)
        nums = pc.cast(pc.utf8_slice_codeunits(self.store_tbl["key"], 1), pa.int64())
        self.hot_keys = nums.to_numpy()[gen.zipf_order(self.seed, len(nums))]
        self.user_bytes = int(
            pc.sum(pc.binary_length(self.store_tbl["key"])).as_py()
            + pc.sum(pc.binary_length(self.store_tbl["value"])).as_py()
        )
        return {
            "store": asdict(STORE),
            "namespace": asdict(NAMESPACE),
            "probes": asdict(PROBES),
            "tables": asdict(TABLES),
            "store_rows": self.store_tbl.num_rows,
            "store_user_bytes": self.user_bytes,
            "namespace_rows": [self.ns1_tbl.num_rows, self.ns2_tbl.num_rows],
            "table_rows": {k: t.num_rows for k, t in self.star.items()},
            "input_sha256": gen.table_digest(
                self.store_tbl, self.ns1_tbl, self.ns2_tbl, *self.star.values()
            ),
        }

    def stage(self) -> None:
        """Write the inputs and build the stores in the current session."""
        env, spark, tr = self.env, self.env.spark, self.tracer
        from hadoop_source_spark import data
        from hadoop_source_spark import io as hio

        self.tables_dir = env.fresh_dir("tables")
        os.makedirs(self.tables_dir)
        for name, tbl in self.star.items():
            pq.write_table(tbl, os.path.join(self.tables_dir, f"{name}.parquet"))
        for name in ANALYTICS_TABLES:
            with tr.span("data.table"):
                data.table(spark, self.tables_dir, name)
        src = env.fresh_dir("kv_src.parquet")
        pq.write_table(self.store_tbl, src)
        self.ns_paths = []
        for i, tbl in enumerate((self.ns1_tbl, self.ns2_tbl)):
            p = env.fresh_dir(f"ns{i + 1}.parquet")
            pq.write_table(tbl, p, row_group_size=1 << 17)
            self.ns_paths.append(p)
        self.store_dir = env.fresh_dir("kv_bloom")
        with tr.span("io.write_kv_bloom.exec", action=True):
            hio.write_kv_bloom(
                spark.read.parquet(src), self.store_dir,
                expected_ndv=STORE.n, num_partitions=STORE.partitions,
            )
        self.store_bytes = dir_bytes(self.store_dir)
        # the live namespace is held in Spark's cache; the older snapshot
        # that snapshot_diff compares it with stays on disk
        with tr.span("namespace.cache", action=True):
            self.ns1 = spark.read.parquet(self.ns_paths[0]).cache()
            self.ns1.count()
        self.ns2 = spark.read.parquet(self.ns_paths[1])

    def layer_extras(self) -> dict[str, float]:
        return {"io.write_kv_bloom.bytes_per_user_byte": self.store_bytes / self.user_bytes}

    def stored_per_user_byte(self) -> float:
        return self.store_bytes / self.user_bytes

    def manifest_extras(self) -> dict:
        parquet_mb = sum(os.path.getsize(p) for p in self.ns_paths) / 2**20
        return {
            "store_bytes": self.store_bytes,
            "namespace_parquet_mb": round(parquet_mb, 1),
            "namespace_cached_mb": round(self.env.cached_mb(), 1),
            "spark_storage_memory_mb": round(self.env.storage_memory_mb(), 1),
        }

    def open_oracle(self) -> None:
        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{self.env.path('tmp', 'duckdb')}'")
        con.execute(
            "CREATE TABLE store AS SELECT key, value FROM "
            f"read_parquet('{self.store_dir}/*.parquet')"
        )
        con.execute(f"CREATE TABLE ns1 AS SELECT * FROM read_parquet('{self.ns_paths[0]}')")
        con.execute(f"CREATE TABLE ns2 AS SELECT * FROM read_parquet('{self.ns_paths[1]}')")
        self.con = con

    def close(self) -> None:
        con = getattr(self, "con", None)
        if con is not None:
            con.close()

    # -- operations -----------------------------------------------------
    def next_pass(self) -> list[tuple[str, dict]]:
        """Every operation type once, in a seeded order, with its arguments."""
        return [(str(op), self._args(str(op))) for op in self.rng.permutation(DECK)]

    def records_of(self, op: str, result) -> int:
        return len(result)

    def _probe_keys(self, n: int) -> list[str]:
        return gen.probes(self.rng, self.hot_keys, n, PROBES, STORE.key_stride)

    def _args(self, op: str) -> dict:
        """Draw the operation's arguments (outside the timed region)."""
        rng = self.rng
        if op == "get":
            return {"keys": self._probe_keys(int(rng.integers(1, PROBES.small_max + 1)))}
        if op == "get_batch":
            return {"keys": self._probe_keys(PROBES.batch)}
        if op == "get_closest":
            return {"keys": self._probe_keys(int(rng.integers(1, PROBES.small_max + 1))),
                    "before": bool(rng.integers(0, 2))}
        if op == "contains":
            return {"keys": self._probe_keys(100)}
        if op == "find":
            top, mid = rng.integers(0, NAMESPACE.top), rng.integers(0, NAMESPACE.mid)
            stem = ["part-", "log_", "img_", "data", "ckpt-", "tmp"][rng.integers(0, 6)]
            ext = ["parquet", "txt", "jpg", "json", "bin", "gz"][rng.integers(0, 6)]
            return {"pattern": f"/u{top:02d}/p{mid:02d}/d*/{stem}*.{ext}",
                    "min_depth": 5, "max_depth": 5}
        if op == "ls_head":
            top, mid, leaf = (rng.integers(0, NAMESPACE.top), rng.integers(0, NAMESPACE.mid),
                              rng.integers(0, NAMESPACE.leaf))
            return {"dir": f"/u{top:02d}/p{mid:02d}/d{leaf:02d}",
                    "prefix": f"/u{top:02d}/p{mid:02d}/",
                    "order": ["path", "mtime", "size"][rng.integers(0, 3)],
                    "reverse": bool(rng.integers(0, 2)), "k": 10}
        if op == "du":
            top, mid = rng.integers(0, NAMESPACE.top), rng.integers(0, NAMESPACE.mid)
            return {"prefix": f"/u{top:02d}/p{mid:02d}/"}
        if op == "count":
            return {}
        if op == "file_distribution":
            step = int(2 ** rng.integers(22, 27))
            return {"max_size": 1 << 30, "step": step}
        if op in ("snapshot_diff", *ANALYTICS):
            return {}
        raise ValueError(op)

    def run(self, op: str, a: dict):
        """Execute one operation and return its collected result."""
        spark, tr = self.env.spark, self.tracer
        from hadoop_source_spark import catalog, workload
        from hadoop_source_spark import io as hio
        from hadoop_source_spark.operators import kv, relational, setops

        if op in ("get", "get_batch", "get_closest", "contains"):
            probes = spark.createDataFrame([(k,) for k in a["keys"]], "key string")
            with tr.span("io.read_kv"):
                store = hio.read_kv(spark, self.store_dir)
            fn = {"get": kv.kv_lookup, "get_batch": kv.kv_lookup,
                  "contains": kv.kv_membership}.get(op)
            name = fn.__name__ if fn else "kv_get_closest"
            with tr.span(f"operators.kv.{name}"):
                if fn:
                    df = fn(store, probes)
                else:
                    df = kv.kv_get_closest(store, probes, before=a["before"])
            with tr.span(f"operators.kv.{name}.exec", action=True):
                return df.collect()
        if op == "find":
            with tr.span("catalog.find"):
                df = catalog.find(
                    self.ns1, catalog.glob_filter("path", a["pattern"]),
                    min_depth=a["min_depth"], max_depth=a["max_depth"],
                    depth_col="path",
                ).select("path", "length")
            with tr.span("catalog.find.exec", action=True):
                return df.collect()
        if op == "ls_head":
            with tr.span("catalog.ls"):
                listing = catalog.ls(
                    self.ns1.filter(F.col("parent") == a["dir"]),
                    order=a["order"], reverse=a["reverse"],
                ).select("path", "length", F.unix_micros("mtime").alias("mtime_us"))
            with tr.span("catalog.ls.exec", action=True):
                rows = listing.collect()
            with tr.span("operators.relational.top_k"):
                head = relational.top_k(
                    self.ns1.filter(F.col("path").startswith(a["prefix"])),
                    a["k"], [F.col("length").desc(), F.col("path")],
                ).select("path", "length")
            with tr.span("operators.relational.top_k.exec", action=True):
                return rows + head.collect()
        if op == "du":
            with tr.span("catalog.du"):
                df = catalog.du(
                    self.ns1.filter(F.col("parent").startswith(a["prefix"])), "parent"
                )
            with tr.span("catalog.du.exec", action=True):
                return df.collect()
        if op == "count":
            with tr.span("operators.relational.content_summary"):
                df = relational.content_summary(self.ns1, ["top", "is_dir"], "length")
            with tr.span("operators.relational.content_summary.exec", action=True):
                return df.collect()
        if op == "file_distribution":
            with tr.span("catalog.file_distribution"):
                df = catalog.file_distribution(
                    self.ns1, a["max_size"], a["step"], size_col="length"
                )
            with tr.span("catalog.file_distribution.exec", action=True):
                return df.collect()
        if op == "snapshot_diff":
            with tr.span("operators.setops.snapshot_diff"):
                df = setops.snapshot_diff(
                    self.ns1, self.ns2, ["path"], compare=["length", "mtime"]
                )
            with tr.span("operators.setops.snapshot_diff.exec", action=True):
                return df.collect()
        if op in ANALYTICS:
            with tr.span(f"workload.{op}"):
                df = workload.QUERIES[op].fn(spark, self.tables_dir)
            a["schema"] = df.schema
            with tr.span(f"workload.{op}.exec", action=True):
                return df.collect()
        raise ValueError(op)

    # -- correctness ------------------------------------------------------
    def check(self, op: str, a: dict, result) -> bool:
        """Compare the operation's result with DuckDB over the same files."""
        if op in ANALYTICS:
            from hadoop_source_spark import oracle, workload

            # the query's own DuckDB oracle, over the collected rows
            got_df = self.env.spark.createDataFrame(result, a["schema"])
            r = oracle.compare(op, got_df, workload.QUERIES[op].oracle, self.tables_dir)
            return r.ok and r.n_spark > 0
        con = self.con
        got = [tuple(r) for r in result]
        if op in ("get", "get_batch", "get_closest", "contains"):
            con.execute("CREATE OR REPLACE TEMP TABLE p AS SELECT unnest(?) AS key",
                        [a["keys"]])
        if op in ("get", "get_batch"):
            want = con.sql("SELECT p.key, s.value FROM p LEFT JOIN store s USING (key)")
        elif op == "get_closest":
            cmp = ">=" if a["before"] else "<="
            want = con.sql(
                "SELECT p.key, s.key, s.value FROM p "
                f"ASOF LEFT JOIN store s ON p.key {cmp} s.key"
            )
        elif op == "contains":
            want = con.sql("SELECT key FROM p WHERE key IN (SELECT key FROM store)")
        elif op == "find":
            rx = "^" + a["pattern"].replace("*", "[^/]*").replace("?", "[^/]").replace(".", "\\.") + "$"
            want = con.execute(
                "SELECT path, length FROM ns1 WHERE regexp_full_match(path, ?) "
                "AND len(string_split(path, '/')) BETWEEN ? AND ?",
                [rx, a["min_depth"], a["max_depth"]],
            )
        elif op == "ls_head":
            col = {"path": "path", "mtime": "mtime", "size": "length"}[a["order"]]
            listing = con.execute(
                "SELECT path, length, epoch_us(mtime) FROM ns1 WHERE parent = ? "
                f"ORDER BY {col} {'DESC' if a['reverse'] else 'ASC'}, path",
                [a["dir"]],
            ).fetchall()
            head = con.execute(
                "SELECT path, length FROM ns1 WHERE starts_with(path, ?) "
                "ORDER BY length DESC, path LIMIT ?", [a["prefix"], a["k"]],
            ).fetchall()
            n = len(listing)
            ix = {"path": 0, "mtime": 2, "size": 1}[a["order"]]
            # ls orders by one column only: ties may come back in any order,
            # so compare the sort-key sequence and the set of rows
            return (
                [r[ix] for r in got[:n]] == [r[ix] for r in listing]
                and sorted(got[:n]) == sorted(listing)
                and got[n:] == head
            )
        elif op == "du":
            want = con.execute(
                "SELECT parent, sum(length), count(*) FROM ns1 "
                "WHERE starts_with(parent, ?) GROUP BY parent", [a["prefix"]],
            )
        elif op == "count":
            want = con.sql(
                "SELECT top, is_dir, count(*), sum(length) FROM ns1 GROUP BY top, is_dir"
            )
        elif op == "file_distribution":
            last = a["max_size"] // a["step"]
            want = con.execute(
                "WITH f AS (SELECT * FROM ns1 WHERE inode_type = 'FILE') "
                "SELECT 'bucket', b * ?, count(*) FROM (SELECT least(CASE WHEN length > ? "
                "THEN ? ELSE ceil(length / ?) END, ?)::BIGINT AS b FROM f) GROUP BY b "
                "UNION ALL SELECT unnest(['totalFiles', 'totalDirectories', "
                "'totalBlocks', 'totalSpace', 'maxFileSize']), NULL, unnest([ "
                "(SELECT count(*) FROM f), "
                "(SELECT count(*) FROM ns1 WHERE inode_type = 'DIRECTORY'), "
                "(SELECT sum(blocks) FROM f), (SELECT sum(length * replication) FROM f), "
                "(SELECT max(length) FROM f)])",
                [a["step"], a["max_size"], last, a["step"], last],
            )
        elif op == "snapshot_diff":
            want = con.sql(
                "SELECT coalesce(a.path, b.path), CASE WHEN a.path IS NULL THEN '+' "
                "WHEN b.path IS NULL THEN '-' ELSE 'M' END FROM ns1 a "
                "FULL OUTER JOIN ns2 b ON a.path = b.path WHERE a.path IS NULL "
                "OR b.path IS NULL OR a.length <> b.length OR a.mtime <> b.mtime"
            )
        else:
            raise ValueError(op)
        return _canon(got) == _canon(want.fetchall())


def _canon(rows):
    return sorted((tuple(r) for r in rows), key=repr)
