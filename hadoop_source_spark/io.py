"""Format/IO layer — the reference's storage containers, Spark-first.

SequenceFile (common/io/SequenceFile.java): one writer and one reader,
`write_sequence_file` / `read_sequence_file`, for REAL Hadoop-binary-
compatible files, not an emulation. A reader of the reference's files
can hand them to this engine unchanged. The value column's Spark type
picks its Writable encoding (scalars, MapWritable, index-keyed arrays).
The reader takes the key/value Writable classes from the file header, as
the format's schema is fixed per file, and decodes records in the JVM;
only the write still crosses into Python (Pyrolite cannot unpickle a
Row JVM-side).

MapFile (common/io/MapFile.java:66-69: sorted data + sparse index): the
Spark-native equivalent is `write_kv_sorted` — key-range-partitioned,
sorted parquet whose row-group min/max statistics ARE the sparse index
(predicate pushdown bisects them exactly like MapFile.Reader.get's index
binary search). TFile's block index (TFile.java:985) maps the same way.

Compression codecs (common/io/compress/*): parquet/text codec options —
all the reference's codecs (gzip/bzip2/lz4/snappy/zstd) are built into
Spark; bzip2/gzip text inputs are transparently decompressed on read
(CompressionCodecFactory extension dispatch).

getmerge (CopyCommands.Merge) → coalesce(1) write; concat (Concat.java:37)
→ union; Display.Cat/Text format sniffing → spark.read.format dispatch.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, IntegerType, MapType, StructField, StructType,
)

TEXT_CODECS = {"none", "gzip", "bzip2", "lz4", "deflate", "snappy"}
PARQUET_CODECS = {"none", "snappy", "gzip", "zstd", "lz4", "uncompressed"}


_MAP_WRITABLE = "org.apache.hadoop.io.MapWritable"
_SEQ_OUTPUT_FORMAT = "org.apache.hadoop.mapred.SequenceFileOutputFormat"

# Writable class → the schema types (DataType.typeName) the reader accepts
# for it, its own type first. The JVM decoder turns a value it cannot
# convert into NULL without an error, so any other type is rejected before
# a job starts. string takes the Java toString of every scalar class but
# BytesWritable (a byte[] prints as its address).
_READABLE_AS = {
    "org.apache.hadoop.io.Text": ("string",),
    "org.apache.hadoop.io.IntWritable": ("integer", "long", "string"),
    "org.apache.hadoop.io.LongWritable": ("long", "string"),
    "org.apache.hadoop.io.DoubleWritable": ("double", "string"),
    "org.apache.hadoop.io.BooleanWritable": ("boolean", "string"),
    "org.apache.hadoop.io.BytesWritable": ("binary",),
    _MAP_WRITABLE: ("map", "array"),
}

# Scalar Writable class → Spark SQL type (SURVEY §1.2 type map).
# Caveat (Pyrolite boxing): a Python int becomes java Integer when it fits
# in 32 bits, else Long — so IntWritable is for int-range keys and
# LongWritable for values beyond 2^31 (mixed-magnitude long columns should
# write as Text or split; the reader side decodes either class fine).
WRITABLE_SPARK_TYPE = {
    cls: types[0] for cls, types in _READABLE_AS.items() if cls != _MAP_WRITABLE
}


def write_sequence_file(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    value_col: str = "value",
    key_class: str = "org.apache.hadoop.io.Text",
    value_class: str = "org.apache.hadoop.io.Text",
    compression: str = "none",
    codec: str = "org.apache.hadoop.io.compress.DefaultCodec",
) -> None:
    """Write a 2-column DataFrame as a REAL Hadoop SequenceFile —
    binary-compatible with the reference's readers.

    Fidelity options mirror SequenceFile.Writer creation
    (common/io/SequenceFile.java:235 CompressionType NONE/RECORD/BLOCK;
    :838 createWriter with key/value classes): `compression` picks the
    writer variant (record-compressed / block-compressed), `codec` the
    compression codec, and key/value Writable classes come from the
    §1.2 type map (Text, Int/Long/Double/Boolean/BytesWritable).

    A map or array value column is written as MapWritable
    (MapWritable.java:37) whatever `value_class` says: it has the no-arg
    constructor a reader's ReflectionUtils.newInstance needs, and Spark's
    converter boxes dict entries per its class-id table (:152). An array
    becomes {IntWritable index → element}, an array of arrays nested index
    maps (the TwoDArrayWritable.java:30 analog): ArrayWritable
    (ArrayWritable.java:46) has NO no-arg constructor, so not even
    Hadoop's own reader can read it back, and Python cannot define the
    Java subclass real pipelines write. Any Hadoop reader reads the index
    maps as MapWritables; `read_sequence_file` gives the arrays back."""
    if compression not in ("none", "record", "block"):
        raise ValueError(f"compression must be none|record|block, got {compression}")
    vt = df.schema[value_col].dataType
    if isinstance(vt, (MapType, ArrayType)):
        value_class, value = _MAP_WRITABLE, _to_index_maps(F.col(value_col), vt)
    else:
        value = F.col(value_col).cast(WRITABLE_SPARK_TYPE[value_class])
    rdd = df.select(
        F.col(key_col).cast(WRITABLE_SPARK_TYPE[key_class]), value
    ).rdd.map(tuple)
    conf = codec_class = None
    if compression != "none":
        conf = {
            "mapreduce.output.fileoutputformat.compress": "true",
            "mapreduce.output.fileoutputformat.compress.type": compression.upper(),
            "mapreduce.output.fileoutputformat.compress.codec": codec,
        }
        codec_class = codec
    rdd.saveAsHadoopFile(
        path, _SEQ_OUTPUT_FORMAT, key_class, value_class,
        conf=conf, compressionCodecClass=codec_class,
    )


def read_sequence_file(
    spark: SparkSession, path: str, schema: str | StructType | None = None
) -> DataFrame:
    """Read a Hadoop SequenceFile into a (key, value) DataFrame.

    The Writable classes come from the header of the first data file
    under `path` (SequenceFile.java:838). Without a `schema` they map
    through WRITABLE_SPARK_TYPE; other classes need one, MapWritable a
    map, an array or an array of arrays (see `write_sequence_file`). A
    `schema` type the header class cannot produce raises ValueError
    before any Spark job runs. Records are decoded in the JVM, never in a
    Python worker: `sc.sequenceFile`'s Writable conversion, unpickled
    JVM-side and given the schema the way `createDataFrame` does;
    index-keyed arrays are rebuilt in SQL."""
    classes = _header_classes(spark, path)
    if schema is None:
        try:
            schema = "key {}, value {}".format(*(WRITABLE_SPARK_TYPE[c] for c in classes))
        except KeyError as e:
            raise ValueError(f"{path}: {e.args[0]} needs a schema") from None
    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    if len(struct.fields) != 2:
        raise ValueError(f"schema needs two fields, got {struct.simpleString()}")
    for f, cls in zip(struct.fields, classes):
        accepted = _READABLE_AS.get(cls)
        if accepted and f.dataType.typeName() not in accepted:
            raise ValueError(
                f"{path}: {cls} cannot be read as {f.name} {f.dataType.simpleString()}"
            )
    sc = spark.sparkContext
    pickled = sc._jvm.PythonRDD.sequenceFile(
        sc._jsc, path, *classes, None, None, min(sc.defaultParallelism, 2), 0
    )
    stored = StructType(
        [StructField(f.name, _index_map_type(f.dataType)) for f in struct.fields]
    )
    df = DataFrame(spark._jsparkSession.applySchemaToPythonRDD(
        sc._jvm.SerDeUtil.pythonToJava(pickled, True).rdd(), stored.json()
    ), spark)
    arrays = {f.name: _from_index_maps(df[f.name], f.dataType)
              for f in struct.fields if isinstance(f.dataType, ArrayType)}
    return df.withColumns(arrays) if arrays else df


def _header_classes(spark: SparkSession, path: str) -> tuple[str, str]:
    """(key class, value class) from the first file under `path` whose
    name does not start with `_` or `.`, as the input format skips them."""
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    data = sorted((st.getPath() for st in fs.listStatus(root) if st.isFile()
                   and not st.getPath().getName().startswith(("_", "."))), key=str)
    if not data:
        raise FileNotFoundError(f"no SequenceFile under {path}")
    reader = jvm.org.apache.hadoop.io.SequenceFile.Reader(fs, data[0], conf)
    try:
        return reader.getKeyClassName(), reader.getValueClassName()
    finally:
        reader.close()


def _index_map_type(dt: DataType) -> DataType:
    """Stored type of an array: map<int, element>, nested arrays alike."""
    if isinstance(dt, ArrayType):
        return MapType(IntegerType(), _index_map_type(dt.elementType))
    return dt


def _to_index_maps(c: Column, dt: DataType) -> Column:
    if not isinstance(dt, ArrayType):
        return c
    return F.map_from_entries(F.transform(
        c, lambda x, i: F.struct(i, _to_index_maps(x, dt.elementType))
    ))


def _from_index_maps(c: Column, dt: DataType) -> Column:
    if not isinstance(dt, ArrayType):
        return c
    return F.transform(
        F.array_sort(F.map_keys(c)), lambda k: _from_index_maps(c[k], dt.elementType)
    )


def write_kv_sorted(df: DataFrame, path: str, key_col: str = "key",
                    num_partitions: int | None = None) -> None:
    """MapFile analog: globally key-sorted parquet. Range partitioning
    gives cross-file key ordering; sortWithinPartitions gives in-file
    order; parquet stats give the sparse index."""
    _write_range_sorted(df, path, key_col, num_partitions, {})


def write_kv_bloom(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    expected_ndv: int = 1_000_000,
    num_partitions: int | None = None,
) -> None:
    """BloomMapFile analog at the STORAGE layer (io/BloomMapFile.java:48
    keeps a DynamicBloomFilter beside the MapFile index): key-sorted
    parquet with a parquet column bloom filter on the key. Point lookups
    then skip row groups on two independent signals — min/max stats
    (the sparse index) AND the bloom filter (membership for keys INSIDE
    a range but absent from it, where min/max can't help, e.g. sparse
    key spaces). The reader needs no code change: Spark's vectorized
    parquet reader consults blooms for pushed-down equality predicates.
    functions/bloom.py remains the QUERY-layer bloom (semi-join
    reduction); this is the file-format one.

    `expected_ndv` is the store's total number of distinct keys. Parquet
    sizes one filter per file, so with `num_partitions` files each filter
    is sized for ceil(expected_ndv / num_partitions) keys, the share a
    range-partitioned file holds; without it, for expected_ndv."""
    ndv = -(-expected_ndv // num_partitions) if num_partitions else expected_ndv
    _write_range_sorted(df, path, key_col, num_partitions, {
        f"parquet.bloom.filter.enabled#{key_col}": "true",
        f"parquet.bloom.filter.expected.ndv#{key_col}": str(ndv),
    })


def _write_range_sorted(df: DataFrame, path: str, key_col: str,
                        num_partitions: int | None, options: dict) -> None:
    parted = (
        df.repartitionByRange(num_partitions, F.col(key_col))
        if num_partitions
        else df.repartitionByRange(F.col(key_col))
    )
    parted.sortWithinPartitions(key_col).write.mode("overwrite").options(
        **options
    ).parquet(path)


def read_kv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def getmerge(df: DataFrame, path: str, fmt: str = "text",
             order: list[str] | None = None) -> None:
    """CopyCommands.Merge: concatenate into ONE output file. The explicit
    coalesce(1) is the semantic point (single ordered file) — a
    deliberately non-scalable sink for small results, as in the shell."""
    out = df.orderBy(*order) if order else df
    out.coalesce(1).write.mode("overwrite").format(fmt).save(path)


def concat(dfs: list[DataFrame]) -> DataFrame:
    """Concat.java:80 — same-schema concatenation, no dedup."""
    from hadoop_source_spark.operators.setops import union_all

    return union_all(dfs)


def read_lines(spark: SparkSession, path: str, line_sep: str | None = None) -> DataFrame:
    """LineReader (common/util/LineReader.java:48): split text into lines,
    custom delimiter supported, compressed input auto-decoded."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path)


def write_text(df: DataFrame, path: str, compression: str = "none") -> None:
    w = df.write.mode("overwrite")
    if compression != "none":
        w = w.option("compression", compression)
    w.text(path)


def write_parquet(df: DataFrame, path: str, compression: str = "zstd",
                  partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int = 32,
) -> None:
    """Bucketed, sorted table — the co-location primitive that deletes the
    shuffle from repeated key joins (MapFile's 'keep it sorted so readers
    can merge' philosophy applied to join locality). Joining two tables
    bucketed on the same key with the same bucket count produces a
    SortMergeJoin with NO Exchange (asserted in tests)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a previous session may have left the managed location behind
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    leftover = os.path.join(warehouse, table_name.lower())
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)  # managed table in spark.sql.warehouse.dir
    )


def read_avro_text(spark: SparkSession, path: str) -> DataFrame:
    """Display.Text's Avro branch (Display.java:124-164,
    AvroFileInputStream:258): dump each Avro datum as one JSON line.

    The SQL avro datasource is an external module; this path decodes the
    object-container format with the pure-Python codec in
    functions/avro_lite.py, fanned out one-file-per-task via the
    binaryFile source + mapInPandas — the same per-file-stream
    parallelism the shell command has, with Arrow batch transfer."""
    import pandas as pd

    from hadoop_source_spark.functions.avro_lite import records_to_json

    def dump(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield pd.DataFrame({"value": records_to_json(bytes(content))})

    bf = spark.read.format("binaryFile").load(path)
    return bf.select("content").mapInPandas(dump, "value string")


def _sniff_magic(p: str) -> str:
    """Magic-byte dispatch, exactly Display.Text's order (Display.java:
    124-164: gzip → SequenceFile → Avro → raw)."""
    try:
        with open(p, "rb") as f:
            head = f.read(4)
    except OSError:
        return ""
    if head[:2] == b"\x1f\x8b":
        return "text"  # gzip: transparently decompressed by the text source
    if head[:3] == b"SEQ":
        return "sequence"
    if head == b"Obj\x01":
        return "avro"
    if head == b"PAR1":
        return "parquet"
    return ""


def cat(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Display.Cat/Text (common/fs/shell/Display.java:72,116): read any
    supported container, auto-sniffing the format from magic bytes the
    way Display.Text does (:124-164 — gzip/SequenceFile/Avro), falling
    back to extension and directory-listing heuristics. SequenceFile dirs
    decode to (key, value) typed by their header (MapWritable values need
    `read_sequence_file` with a schema), Avro files to JSON lines — the
    `-text` behavior."""
    if fmt is None:
        p = path.rstrip("/")
        if os.path.isfile(p):
            fmt = _sniff_magic(p)
        ext = p.rsplit(".", 1)[-1].lower() if "." in os.path.basename(p) else ""
        fmt = fmt or {
            "parquet": "parquet", "csv": "csv", "json": "json",
            "txt": "text", "text": "text", "orc": "orc",
            "gz": "text", "bz2": "text", "avro": "avro",
        }.get(ext, "")
        if not fmt:
            # directory: sniff by contained file names
            try:
                names = os.listdir(p)
            except OSError:
                names = []
            if any(n.endswith(".parquet") for n in names):
                fmt = "parquet"
            elif any(n.endswith(".orc") for n in names):
                fmt = "orc"
            elif any(n.endswith(".avro") for n in names):
                fmt = "avro"
            elif any(n.endswith((".txt", ".json", ".csv", ".gz", ".bz2"))
                     for n in names):
                fmt = "text"
            elif any(n.startswith("part-") and "." not in n for n in names):
                fmt = "sequence"  # Hadoop seq part files have no extension
            else:
                fmt = "text"
    if fmt == "sequence":
        return read_sequence_file(spark, path)
    if fmt == "avro":
        return read_avro_text(spark, path)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", True).option("inferSchema", True)
    return reader.format(fmt).load(path)


def file_checksum(df: DataFrame, value_col: str) -> DataFrame:
    """Display.Checksum analog: content digests via built-in hash exprs
    (MD5Hash.java:35, PureJavaCrc32.java:39)."""
    return df.select(
        F.md5(F.col(value_col).cast("binary")).alias("md5"),
        F.crc32(F.col(value_col).cast("binary")).alias("crc32"),
        F.sha2(F.col(value_col).cast("binary"), 256).alias("sha256"),
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 512 * 1024 * 1024,
    compression: str = "zstd",
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~target_bytes each. Returns the number of output files.

    The HDFS small-files problem (every file = NameNode heap + a map task
    in the reference; every file = a scan task + footer fetch in Spark)
    is THE recurring ops pain of long-running ingest at 100 TB — a
    streaming sink writing a file per trigger per partition produces
    millions. Compaction = one distributed read + repartition(ceil(
    bytes/target)) + write; AQE-free deterministic file count so the
    output layout is reproducible.

    Scale note: repartition is a full shuffle of the data being
    compacted — at 100 TB, compact per-partition-directory (date=...)
    in independent jobs, not the whole table at once.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    import math

    df = spark.read.parquet(src)
    try:  # classic session: exact byte size via the Hadoop FileSystem
        from py4j.java_gateway import java_import

        jvm = spark.sparkContext._jvm
        java_import(jvm, "org.apache.hadoop.fs.Path")
        jpath = jvm.Path(src)
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        total_bytes = fs.getContentSummary(jpath).getLength()
    except AttributeError:  # Spark Connect: no Py4J gateway — size the
        # local/file inputs directly (public inputFiles API)
        import os
        from urllib.parse import urlparse

        total_bytes = 0
        for uri in df.inputFiles():
            p = urlparse(uri)
            if p.scheme in ("file", ""):
                total_bytes += os.path.getsize(p.path)
        if total_bytes == 0:
            raise NotImplementedError(
                "compact_parquet under Spark Connect supports file: "
                "sources only (no FileSystem gateway to size others)"
            )
    n_files = max(1, int(math.ceil(total_bytes / target_bytes)))
    df.repartition(n_files).write.mode("overwrite").option(
        "compression", compression
    ).parquet(dst)
    return n_files
