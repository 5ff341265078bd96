"""Parquet table catalog over the driver's synthetic star schema.

Mirrors the reference's relational catalog (SQLAlchemy models per
alembic/versions/821173cf9c5d_initial_migration.py) as a thin loader:
the ``events`` table plays the ``process_state`` append-only log
(event_id ≈ operation_order, user_id ≈ document_id, event_type ≈ step,
ts ≈ created_at — see SURVEY.md §1.1), ``documents`` plays
``welearn_document`` content, ``embeddings`` plays ``document_slice``
embeddings.

At 100 TB these would be partitioned/bucketed parquet or Delta tables;
here we read plain files. Column pruning + predicate pushdown still
apply (Catalyst pushes filters into the parquet scan).
"""

from __future__ import annotations

import math
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to a session-tz TIMESTAMP no
    matter which physical encoding the parquet writer chose.

    Testdata generations have used two encodings:
    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
      with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
      int64 nanos — convert to a timestamp (µs precision).
    - parquet ``timestamp[us]`` with no tz: Spark reads TIMESTAMP_NTZ.
      The session timezone is pinned to UTC (session.py), so casting
      to TIMESTAMP preserves the wall-clock instant exactly.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def empty_frame(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """An empty frame with exactly ``schema`` (DDL string or StructType),
    built in the JVM as an empty local relation. ``createDataFrame([],
    schema)`` parallelizes the empty list into a Python RDD instead, so
    every scan of it starts one Python worker per partition, rows or no
    rows."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    jspark = spark._jsparkSession
    jdf = jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json()))
    return DataFrame(jdf, spark)


def _size_to_bytes(val: str) -> int:
    """Parse a Spark size conf string ('134217728b', '128m', '1g')."""
    m = re.fullmatch(r"\s*(\d+)\s*([bkmgt]?)b?\s*", val.lower())
    if not m:
        return 128 << 20
    mult = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(m.group(1)) * mult[m.group(2)]


def fan_out_for_compute(df: DataFrame, bytes_per_task: int = 2 << 20) -> DataFrame:
    """Give a compute-dense downstream kernel parallelism independent
    of the scan's split count — a structural NO-OP on layouts that are
    already parallel enough.

    Spark sizes scan partitions by BYTES (`maxPartitionBytes`, 128 MB
    default), which is right for IO-bound plans but wrong for kernels
    doing O(dim²) / O(tokens) work per row: a 50 MB single-row-group
    parquet file (this repo's toy testdata layout — and any real-world
    "one giant file" drop) becomes ONE task, serializing the whole
    shingle/fold stage onto one core while 31 idle. Measured at sf10:
    `sq8_ann_topk` spent 170 s on a single task whose shuffle bytes
    were 1.2 KB — all compute, no parallelism.

    At production scale a 100 TB table arrives as thousands of splits,
    the estimated scan parallelism exceeds the byte-derived target,
    and this helper returns the input UNCHANGED — the serve-path
    shuffle story (|Q|·k rows, baked-literal folds) is untouched by
    design. Locally it pays one corpus-LINEAR round-robin exchange to
    unlock every core; linear bytes for a ~Nx wall win is the right
    trade, and the §13 byte audit sees it as an explicit, documented
    exchange rather than a mystery.

    The decision uses file metadata only (no Spark job):
    ``target = clamp(ceil(input_bytes / bytes_per_task), 1,
    defaultParallelism)``; estimated scan parallelism reproduces
    Spark's OWN split packing (:func:`_estimate_scan_partitions` —
    the FilePartition maxSplitBytes formula + greedy desc-size
    bin-packing with filesOpenCostInBytes), NOT a per-file upper
    bound: Spark packs many small files into few partitions, so a
    Σ ceil(size/maxPartitionBytes) estimate would overestimate on
    exactly the fragmented small-files layout the guard exists to
    fix, and no-op it back onto few cores. The packed estimate is
    then CAPPED by the total parquet row-group count (footer
    metadata): planned byte splits over few huge row groups are empty
    shells — a row group never splits across tasks, so effective
    parallelism is min(planned, row groups). Measured consequences of
    getting either half wrong: sq8 171 s at sf10 (round 9, planned=1
    hid the single-task scan) and 119 s at sf30 (round 10, planned=32
    over 3 row groups skipped the rescue repartition). Files not
    visible from the driver (remote FS) fall back to the no-op —
    exactly the deployments where the layout provides splits anyway."""
    try:
        files = df.inputFiles()
        paths = []
        sizes = []
        for uri in files:
            path = unquote(urlparse(uri).path) if "://" in uri else uri
            if not os.path.exists(path):
                return df
            paths.append(path)
            sizes.append(os.path.getsize(path))
        if not sizes:
            return df
        spark = df.sparkSession
        max_partition = _size_to_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _size_to_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        par = spark.sparkContext.defaultParallelism
        # Spark's maxSplitBytes resolves the minimum-partition target as
        # spark.sql.files.minPartitionNum, else
        # spark.sql.leafNodeDefaultParallelism, else defaultParallelism
        # (FilePartition.maxSplitBytes in sql/core) — mirror the FULL
        # chain or the estimate diverges from Spark's real packing on
        # sessions that tune either conf.
        min_partition_conf = spark.conf.get(
            "spark.sql.files.minPartitionNum", None
        ) or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        min_partition_num = int(min_partition_conf) if min_partition_conf else par
        est_scan = _estimate_scan_partitions(
            sizes, max_partition, open_cost, min_partition_num
        )
        # planned partitions are only POTENTIAL parallelism: a parquet
        # row group is indivisible, so a file with few (huge) row
        # groups feeds work to few tasks no matter how many byte
        # splits the planner cuts — the exact layout that serialized
        # sq8 at sf10 (single-row-group toy files) and again at sf30
        # (3-row-group embeddings under a 32-split plan; caught by the
        # r10 re-stamp). Cap the estimate by the row-group count —
        # driver-side footer reads, skipped for many-file layouts
        # where the file count alone already provides the splits.
        if len(paths) <= 128:
            est_scan = min(est_scan, max(1, _total_row_groups(paths)))
        target = min(par, math.ceil(sum(sizes) / bytes_per_task))
        if target <= est_scan:
            return df
        return df.repartition(target)
    except Exception:  # pragma: no cover — metadata probe must never break a plan
        return df


def _total_row_groups(paths: list[str]) -> int:
    """Total parquet row groups across ``paths`` (footer metadata
    only) — the hard ceiling on effective scan parallelism, since a
    row group can never split across tasks."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        try:
            total += pq.ParquetFile(p).metadata.num_row_groups
        except Exception:  # non-parquet / unreadable — assume splittable
            total += 1
    return total


def _estimate_scan_partitions(
    sizes: list[int], max_partition_bytes: int, open_cost: int, min_partition_num: int
) -> int:
    """Replicate Spark's scan-partition count from file metadata —
    the same arithmetic as ``FilePartition.maxSplitBytes`` +
    ``getFilePartitions`` (public Spark source, sql/core
    datasources): each file is charged ``openCostInBytes`` on top of
    its length, the per-partition ceiling is
    ``min(maxPartitionBytes, max(openCost, totalCharged/minPartitionNum))``,
    files are split at that ceiling, and the resulting splits are
    greedily packed in descending size order, closing a partition
    when the next split would overflow it. Mirroring the packing
    (rather than upper-bounding per file) is what lets
    :func:`fan_out_for_compute` see that 64 tiny files may really
    scan as a handful of partitions."""
    sizes = [s for s in sizes if s > 0]
    if not sizes:
        return 1
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total // max(1, min_partition_num)
    max_split = min(max_partition_bytes, max(open_cost, bytes_per_core))
    splits: list[int] = []
    for s in sizes:
        off = 0
        while off < s:
            splits.append(min(max_split, s - off))
            off += max_split
    splits.sort(reverse=True)
    n_parts, cur = 0, 0
    for sp in splits:
        if cur + sp > max_split and cur > 0:
            n_parts += 1
            cur = 0
        cur += sp + open_cost
    if cur > 0:
        n_parts += 1
    return max(1, n_parts)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for the spark.sql path)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
