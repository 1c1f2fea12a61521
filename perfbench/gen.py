"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from the run's
``--seed``: the same seed gives byte-identical Arrow tables, and
``table_digest`` turns them into the input checksum the manifest records.
Generation is vectorised (NumPy draws, Arrow compute for strings) so that
a 10^6-entry namespace costs about a second of set-up, not a Python loop.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_ALNUM = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
_EPOCH_US = 1_700_000_000_000_000  # 2023-11-14, fixed so mtimes repeat per seed
_BLOCK = 128 * 1024 * 1024


@dataclass(frozen=True)
class RecordSpec:
    """sort_ingest input: N key/value records."""

    n: int = 40_000
    runs: int = 4  # unsorted runs the k-way merge combines
    key_space: int = 10**9
    dup_fraction: float = 0.10  # share of records whose key repeats an earlier one
    value_mu: float = 4.5  # value length ~ lognormal(mu, sigma), clipped
    value_sigma: float = 0.8
    value_min: int = 8
    value_max: int = 2048


@dataclass(frozen=True)
class StoreSpec:
    """interactive_reads key store (bloom-indexed sorted parquet)."""

    n: int = 100_000
    key_stride: int = 8  # keys are multiples of the stride: misses fall inside ranges
    value_len: int = 48
    partitions: int = 8


@dataclass(frozen=True)
class NamespaceSpec:
    """interactive_reads file namespace and its second snapshot."""

    top: int = 5  # fan-out at each directory level
    mid: int = 5
    leaf: int = 10
    files_per_dir: int = 1000  # mean; per-directory counts are Poisson
    create_fraction: float = 0.005
    delete_fraction: float = 0.005
    modify_fraction: float = 0.01


@dataclass(frozen=True)
class TablesSpec:
    """interactive_reads analytics tables, in the program's star schema
    (``data.TABLES``). The ten tables are written so that the DuckDB
    oracle binds every view; the analytics operations read ``events``,
    ``documents`` and ``embeddings``."""

    events: int = 10_000
    users: int = 50
    days: int = 30
    documents: int = 2_000
    doc_words: tuple[int, int] = (8, 90)  # words per document, uniform
    exact_dup_fraction: float = 0.05  # documents that copy an earlier text
    embeddings: int = 2_000
    dim: int = 64
    labels: int = 10
    customers: int = 100
    suppliers: int = 10
    parts: int = 100
    orders: int = 500
    lines_per_order: int = 4


@dataclass(frozen=True)
class ProbeSpec:
    """Probe-key draw for the read operations."""

    hit_fraction: float = 0.8
    zipf_s: float = 1.2
    small_max: int = 16
    batch: int = 1000


def _random_strings(rng: np.random.Generator, lengths: np.ndarray) -> pa.Array:
    """Strings of the given lengths over [a-z0-9], built without a Python loop."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = _ALNUM[rng.integers(0, len(_ALNUM), int(offsets[-1]))]
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets), pa.py_buffer(data)
    )


def _fmt_keys(prefix: str, nums: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(nums, pa.int64()), pa.string()), width, "0")
    return pc.binary_join_element_wise(pa.scalar(prefix), digits, "")


def records(seed: int, spec: RecordSpec) -> pa.Table:
    """(run, key, value) records; keys are fixed-width so string order is
    numeric order, and ``dup_fraction`` of them repeat an earlier key."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(spec.n * spec.dup_fraction)
    fresh = rng.choice(spec.key_space, spec.n - n_dup, replace=False)
    nums = np.concatenate([fresh, rng.choice(fresh, n_dup)])
    rng.shuffle(nums)
    lengths = np.clip(
        rng.lognormal(spec.value_mu, spec.value_sigma, spec.n).astype(np.int64),
        spec.value_min,
        spec.value_max,
    )
    return pa.table(
        {
            "run": pa.array(np.arange(spec.n) % spec.runs, pa.int32()),
            "key": _fmt_keys("k", nums, 10),
            "value": _random_strings(rng, lengths),
        }
    )


def kv_store(seed: int, spec: StoreSpec) -> pa.Table:
    """Unique sorted-store keys (multiples of ``key_stride``) with values."""
    rng = np.random.default_rng([seed, 2])
    nums = np.sort(rng.choice(spec.n * 4, spec.n, replace=False)) * spec.key_stride
    return pa.table(
        {
            "key": _fmt_keys("k", nums, 12),
            "value": _random_strings(rng, np.full(spec.n, spec.value_len)),
        }
    )


def probes(
    rng: np.random.Generator, store_keys: np.ndarray, n: int, spec: ProbeSpec,
    key_stride: int,
) -> list[str]:
    """``n`` probe keys: hits follow a Zipf rank over a fixed permutation of
    the store, misses are off-stride keys that fall between stored keys."""
    hit = rng.random(n) < spec.hit_fraction
    ranks = np.minimum(rng.zipf(spec.zipf_s, n) - 1, len(store_keys) - 1)
    nums = store_keys[ranks].copy()
    miss = ~hit
    nums[miss] = (
        store_keys[rng.integers(0, len(store_keys), int(miss.sum()))]
        + rng.integers(1, key_stride, int(miss.sum()))
    )
    return [f"k{int(x):012d}" for x in nums]


def zipf_order(seed: int, n: int) -> np.ndarray:
    """Fixed permutation mapping Zipf rank → store index, so hot keys are
    spread over the key range instead of clustered at its start."""
    return np.random.default_rng([seed, 3]).permutation(n)


_STEMS = pa.array(["part-", "log_", "img_", "data", "ckpt-", "tmp"])
_EXTS = pa.array(["parquet", "txt", "jpg", "json", "bin", "gz"])


def namespace(seed: int, spec: NamespaceSpec) -> tuple[pa.Table, pa.Table]:
    """Two snapshots of a three-level directory tree of files.

    Directories are /u<i>/p<j>/d<k>; files are <stem><n>.<ext> under the
    leaf directories. The second snapshot deletes, modifies (new length
    and mtime) and creates files by the spec's churn fractions."""
    rng = np.random.default_rng([seed, 4])
    tops = [f"/u{i:02d}" for i in range(spec.top)]
    mids = [f"{t}/p{j:02d}" for t in tops for j in range(spec.mid)]
    leaves = [f"{m}/d{k:02d}" for m in mids for k in range(spec.leaf)]
    dirs = tops + mids + leaves
    per_dir = rng.poisson(spec.files_per_dir, len(leaves))
    n_files = int(per_dir.sum())
    leaf_ix = np.repeat(np.arange(len(leaves)), per_dir)
    serial = np.arange(n_files) - np.repeat(np.cumsum(per_dir) - per_dir, per_dir)
    stems = _STEMS.take(pa.array(rng.integers(0, len(_STEMS), n_files)))
    names = pc.binary_join_element_wise(
        _fmt_keys("", serial, 5),
        _EXTS.take(pa.array(rng.integers(0, len(_EXTS), n_files))),
        ".",
    )
    names = pc.binary_join_element_wise(stems, names, "")
    parents = pa.array(leaves).take(pa.array(leaf_ix))
    file_paths = pc.binary_join_element_wise(parents, names, "/")
    lengths = np.minimum(rng.lognormal(13.0, 2.5, n_files), 2 * 1024**3).astype(np.int64)
    mtimes = _EPOCH_US + rng.integers(0, 86_400 * 10**6 * 365, n_files)
    repl = rng.choice(np.array([1, 2, 3], np.int32), n_files, p=[0.05, 0.15, 0.80])

    def build(paths, parent, is_dir, length, mtime, replication):
        return pa.table(
            {
                "path": paths,
                "parent": parent,
                "top": pc.utf8_slice_codeunits(paths, 0, 4),
                "is_dir": pa.array(is_dir),
                "inode_type": pa.array(np.where(is_dir, "DIRECTORY", "FILE")),
                "length": pa.array(length, pa.int64()),
                "replication": pa.array(replication, pa.int32()),
                "blocks": pa.array(-(-length // _BLOCK), pa.int64()),
                "mtime": pa.array(mtime, pa.timestamp("us", tz="UTC")),
            }
        )

    dir_parent = [d.rsplit("/", 1)[0] or "/" for d in dirs]
    n_dirs = len(dirs)
    dir_mtime = _EPOCH_US + rng.integers(0, 86_400 * 10**6 * 365, n_dirs)
    dir_part = (
        pa.array(dirs), pa.array(dir_parent), np.ones(n_dirs, bool),
        np.zeros(n_dirs, np.int64), dir_mtime, np.zeros(n_dirs, np.int32),
    )
    v1 = pa.concat_tables([
        build(*dir_part),
        build(file_paths, parents, np.zeros(n_files, bool), lengths, mtimes, repl),
    ])

    churn = rng.random(n_files)
    deleted = churn < spec.delete_fraction
    modified = (churn >= spec.delete_fraction) & (
        churn < spec.delete_fraction + spec.modify_fraction
    )
    keep = ~deleted
    lengths2 = np.where(modified, lengths + rng.integers(1, 1 << 20, n_files), lengths)
    mtimes2 = np.where(modified, mtimes + rng.integers(1, 10**9, n_files), mtimes)
    n_new = int(n_files * spec.create_fraction)
    new_leaf = rng.integers(0, len(leaves), n_new)
    new_parents = pa.array(leaves).take(pa.array(new_leaf))
    new_names = _fmt_keys("new-", np.arange(n_new), 6)
    new_len = np.minimum(rng.lognormal(13.0, 2.5, n_new), 2 * 1024**3).astype(np.int64)
    mask = pa.array(keep)
    v2 = pa.concat_tables([
        build(*dir_part),
        build(
            file_paths.filter(mask), parents.filter(mask), np.zeros(int(keep.sum()), bool),
            lengths2[keep], mtimes2[keep], repl[keep],
        ),
        build(
            pc.binary_join_element_wise(new_parents, new_names, "/"), new_parents,
            np.zeros(n_new, bool), new_len,
            _EPOCH_US + rng.integers(0, 86_400 * 10**6 * 365, n_new),
            np.full(n_new, 3, np.int32),
        ),
    ])
    return v1, v2


_EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_WORDS = np.array(
    "scan column window order sort part agg value line key join merge group "
    "query vector hash slow stream filter fast batch spark table small data "
    "big customer row dup the a and of der die und le la les el los y "
    "的 是 了".split()
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400 * 10**6
_JAN_2024_US = 1_704_067_200 * 10**6
_JAN_1992_US = 694_224_000 * 10**6


def _choice(rng: np.random.Generator, values: np.ndarray, n: int) -> pa.Array:
    return pa.array(values[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return _fmt_keys(prefix, np.arange(n), 9)


def _documents(rng: np.random.Generator, spec: TablesSpec) -> pa.Table:
    n = spec.documents
    lengths = rng.integers(spec.doc_words[0], spec.doc_words[1] + 1, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    texts = np.array([" ".join(words[a:b]) for a, b in zip(offsets[:-1], offsets[1:])],
                     dtype=object)
    dup = rng.random(n) < spec.exact_dup_fraction
    dup[0] = False
    # a duplicate copies the text of a uniformly drawn earlier document
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    texts[dup] = texts[src[dup]]
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": _choice(rng, _LANGS, n),
        "source": pc.binary_join_element_wise(
            pa.scalar("src"), pc.cast(pa.array(np.arange(n) % 20), pa.string()), ""
        ),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def star_schema(seed: int, spec: TablesSpec) -> dict[str, pa.Table]:
    """The ten tables of ``data.TABLES`` with the schemas ``data.py`` lists."""
    rng = np.random.default_rng([seed, 5])
    n_e = spec.events
    ts = _JAN_2024_US + np.sort(rng.integers(0, spec.days * _DAY_US, n_e))
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, spec.users, n_e), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, n_e),
        "value": pa.array(np.round(rng.exponential(50.0, n_e), 2)),
        "props": pc.binary_join_element_wise(
            pa.scalar('{"k": '),
            pc.cast(pa.array(rng.integers(0, 100, n_e)), pa.string()),
            pa.scalar("}"), "",
        ),
    })
    vecs = rng.standard_normal((spec.embeddings, spec.dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(spec.embeddings), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), spec.dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, spec.labels, spec.embeddings), pa.int32()),
    })
    n_c, n_s, n_p, n_o = spec.customers, spec.suppliers, spec.parts, spec.orders
    n_l = n_o * spec.lines_per_order
    order_day = rng.integers(0, 2400, n_o)
    l_order = np.repeat(np.arange(n_o), spec.lines_per_order)
    ship = _JAN_1992_US + (order_day[l_order] + rng.integers(1, 120, n_l)) * _DAY_US
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": _fmt_keys("NATION_", np.arange(25), 1),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": _names("Customer#", n_c),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": _names("Supplier#", n_s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": _choice(rng, np.array(["cold widget", "hot gadget", "blue gizmo"]), n_p),
            "p_brand": _fmt_keys("Brand#", rng.integers(11, 56, n_p), 2),
            "p_type": _choice(rng, np.array(["ECONOMY", "STANDARD", "PROMO"]), n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": _money(rng, 900.0, 2100.0, n_p),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": _choice(rng, np.array(["F", "O", "P"]), n_o),
            "o_totalprice": _money(rng, 1000.0, 400000.0, n_o),
            "o_orderdate": _ts(_JAN_1992_US + order_day * _DAY_US),
            "o_orderpriority": _choice(
                rng, np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                n_o,
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, spec.lines_per_order + 1), n_o),
                                     pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 100000.0, n_l),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _choice(rng, np.array(["A", "N", "R"]), n_l),
            "l_linestatus": _choice(rng, np.array(["F", "O"]), n_l),
            "l_shipdate": _ts(ship),
        }),
        "events": events,
        "documents": _documents(rng, spec),
        "embeddings": embeddings,
    }


def table_digest(*tables: pa.Table) -> str:
    """sha256 over the tables' IPC bytes: equal for equal seeds."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.combine_chunks())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()

