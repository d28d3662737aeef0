"""Sources and sinks.

Re-expresses the reference's IO surface (read_parquet_df:
SCDHelpers.py:276-281, read_current_hashes: MetaColumnHelpers.py:164-169,
partitioned sink: main.py:24, CSV source: main.py:16, empty-relation
bootstrap: main.py:20-21 / SCDHelpers.py:26-30) on Spark readers/writers.

Scale note: the reference hive-partitions the current store by the
*business key* columns (main.py:24) — at 100 TB that is one directory per
key, i.e. millions of tiny files. The sink here defaults to partitioning by
``INSERT_RUN_ID`` (one directory per load) which keeps files large,
preserves partition pruning for incremental readers, and still allows an
explicit ``partition_by`` override for reference-identical layouts.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from .constants import INSERT_RUN_ID, KEY_HASH, RECORD_HASH, UPDATE_RUN_ID


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """CSV source with header; explicit schema preferred for hash stability
    (type inference can flip int/double and silently change hash preimages).
    ref: main.py:16 (pd.read_csv).
    """
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet_df(spark: SparkSession, path: str) -> DataFrame | None:
    """Fault-tolerant parquet source: ``None`` when the store doesn't exist.

    ref: SCDHelpers.py:276-281 — but only missing-path errors are swallowed
    (the reference's bare ``except:`` hid real failures, SURVEY.md §7.5).
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a historization store with its declared dtypes restored.

    Stores are hive-partitioned on run-id columns whose values are
    yyyyMMddHHmmss digit strings, and Spark's partition-column type
    inference reads those directory keys back as BIGINT. EVERY store
    consumer must see the declared string type (a digit run id renders
    identically either way, but the dtype contract must not depend on
    what the digits happen to be), so the restore lives here instead of
    being patched at individual call sites (ADVICE r04).
    """
    df = read_parquet_df(spark, path)
    if df is None:
        return None
    dtypes = dict(df.dtypes)
    for c in (INSERT_RUN_ID, UPDATE_RUN_ID):
        if c in dtypes and dtypes[c] != "string":
            df = df.withColumn(c, F.col(c).cast("string"))
    return df


def read_current_hashes(spark: SparkSession, path: str) -> DataFrame | None:
    """Column-pruned read of ``(KEY_HASH, RECORD_HASH)`` for cheap delta checks.

    ref: MetaColumnHelpers.py:164-169. Catalyst pushes the projection into
    the parquet scan, so only the two hash columns are read from disk.
    """
    df = read_parquet_df(spark, path)
    if df is None:
        return None
    return df.select(KEY_HASH, RECORD_HASH)


def write_store(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> None:
    """Partitioned parquet sink for the current store.

    ref: main.py:24 (``to_parquet(partition_cols=key_columns)``) — default
    partition column is ``INSERT_RUN_ID`` instead of the business keys; see
    module docstring for why that matters at scale.
    """
    cols = partition_by if partition_by is not None else [INSERT_RUN_ID]
    writer = df.write.mode(mode)
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """Generic source: parquet / orc / json / csv / text by format name.

    The reference supports only CSV in + parquet out (requirements.txt:1-3);
    the extra formats come free from Spark's DataSource API and share the
    same pushdown/pruning machinery where the format allows it (parquet,
    orc)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Generic sink mirroring read_table."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **properties,
) -> DataFrame:
    """JDBC source with parallel partitioned reads. Untested here (no
    database in this environment) — thin declarative wrapper over
    spark.read.jdbc; partition bounds split the table into
    ``num_partitions`` concurrent range scans instead of one serial cursor.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    **properties,
) -> None:
    """JDBC sink twin of ``read_jdbc``: each output partition opens one
    connection and writes its rows batched, so write parallelism = the
    DataFrame's partition count (repartition before calling to match the
    database's ingest capacity — N concurrent writers against a
    single-node database is a knob, not a default)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode(mode)
    )
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.save()


def delete_store(spark: SparkSession, path: str) -> bool:
    """Remove a store directory (simulation/bootstrap reset).

    ref: main.py:27-28 (shutil.rmtree) — via the Hadoop FS API so it works
    on HDFS/object stores, not just the local filesystem. Returns whether
    anything was deleted.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if fs.exists(hpath):
        return bool(fs.delete(hpath, True))
    return False


def create_dataframe_with_schema(
    spark: SparkSession, schema: T.StructType
) -> DataFrame:
    """Empty relation with a given schema (store bootstrap).

    ref: SCDHelpers.py:26-30 (emptyRDD variant — createDataFrame([], schema)
    avoids the RDD API entirely).
    """
    return spark.createDataFrame([], schema)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh scratch directory for one harness round-trip (sink,
    checkpoint, store), removed on every exit.

    The directory is created under ``SPARK_GRAFT_STREAM_SINK_ROOT`` when
    that is set, and under the local temp dir otherwise. The default is
    correct in local mode only: on a multi-node cluster executors do not
    share the driver's temp dir, and whatever they write (parquet sinks,
    checkpoints, stores) must live on storage every node reaches. Point
    the variable at such a path (NFS, HDFS mount, object-store FUSE);
    each call makes its own unique subdir under it."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SINK_ROOT") or None
    if root:
        os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=root)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def state_store_partitions(spark: SparkSession) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to 8 for a one-shot stream,
    restoring the previous value on every exit.

    The rule: size the state store to the STATE, not the input. A
    stateful stream pins its shuffle partition count in the checkpoint
    at the first micro-batch, and the harness streams keep small state
    (window x type aggregates, one tuple per user, per-batch store
    partials). 32 state partitions cost ~0.5 s of per-batch task and
    state-store overhead there; 8 is right-sized, and the same rule
    holds on a cluster. Each harness run uses a fresh checkpoint, so
    the pin never leaks across queries."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
