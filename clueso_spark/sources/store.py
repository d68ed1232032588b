"""Two-tier (landing/staging) parquet metadata store.

LSM-style layout (ref: MetadataIngestionPipeline.scala:173-182,
TableFilesCompactor.scala:156-171, paths from CluesoConfig.scala:38-40):

    <root>/landing/bucket=<b>/maxOpIndex=<n>/part-*.parquet   (stream append)
    <root>/staging/bucket=<b>/maxOpIndex=<n>/part-*.parquet   (compacted)

Both tiers share ``STORED_EVENT_SCHEMA``; ``bucket`` / ``maxOpIndex`` are
Hive partition columns, so per-bucket reads are partition-pruned directory
scans and compaction works on whole subdirectories.

The reference fights the streaming sink's ``_spark_metadata`` log (it deletes
it, ref: TableFilesCompactor.scala:51-58, and dodges it by reading bucket
subdirectories, ref: MetadataQueryExecutor.scala:141-147). We keep the
subdirectory-read trick -- reading ``landing/bucket=<b>`` with an explicit
``basePath`` both *prunes to one bucket without listing the others* (at 100 TB
the landing root can hold thousands of bucket partitions) and never consults
the sink's metadata log.

Filesystem access uses the JVM Hadoop FileSystem API via py4j so the same
code runs on file://, hdfs:// and s3a:// (ref: SparkUtils.scala:23-38).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clueso_spark.schemas import STORED_EVENT_SCHEMA

_PARTITION_RE = re.compile(r"([A-Za-z0-9_]+)=(.*)")


@dataclass
class MetadataStore:
    """Path layout + readers/writers for one metadata-store root."""

    spark: SparkSession
    root: str
    schema = STORED_EVENT_SCHEMA

    landing: str = field(init=False)
    staging: str = field(init=False)

    def __post_init__(self) -> None:
        self.root = self.root.rstrip("/")
        self.landing = f"{self.root}/landing"
        self.staging = f"{self.root}/staging"

    # -- hadoop fs helpers ---------------------------------------------------

    def _fs(self, path: str):
        jvm = self.spark.sparkContext._jvm
        jsc = self.spark.sparkContext._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        return hpath.getFileSystem(jsc.hadoopConfiguration()), hpath, jvm

    def exists(self, path: str) -> bool:
        fs, hpath, _ = self._fs(path)
        return fs.exists(hpath)

    def mkdirs(self, path: str) -> None:
        fs, hpath, _ = self._fs(path)
        fs.mkdirs(hpath)

    def delete(self, path: str) -> None:
        fs, hpath, _ = self._fs(path)
        fs.delete(hpath, True)

    def touch(self, path: str) -> bool:
        """Atomically create an empty marker file; False if it exists."""
        fs, hpath, _ = self._fs(path)
        try:
            return fs.createNewFile(hpath)
        except Exception:
            return False

    def list_partition_values(self, path: str, column: str) -> list[str]:
        """Hive-partition discovery by directory listing
        (ref: TableFilesCompactor.scala:16,67-99 regex walk)."""
        if not self.exists(path):
            return []
        fs, hpath, _ = self._fs(path)
        values = []
        for status in fs.listStatus(hpath):
            if not status.isDirectory():
                continue
            m = _PARTITION_RE.match(status.getPath().getName())
            if m and m.group(1) == column:
                values.append(m.group(2))
        return values

    def buckets(self, tier: str = "landing") -> list[str]:
        return self.list_partition_values(getattr(self, tier), "bucket")

    def sub_partitions(self, tier: str, bucket: str) -> list[int]:
        path = f"{getattr(self, tier)}/bucket={bucket}"
        # tolerate stray non-integer partition dirs (e.g. a pre-fix store
        # holding a __HIVE_DEFAULT_PARTITION__ from a NULL maxOpIndex row)
        # instead of failing every compaction of the bucket
        return sorted(
            int(v)
            for v in self.list_partition_values(path, "maxOpIndex")
            if v.lstrip("-").isdigit()
        )

    # -- readers ---------------------------------------------------------

    def _read_bucket(self, tier_root: str, bucket: str) -> DataFrame:
        """Partition-pruned per-bucket scan: read the bucket subdirectory
        directly with an explicit basePath so the partition columns survive
        (ref: MetadataQueryExecutor.scala:141-147). A tier with no
        directory yet is an empty file scan, planned in the JVM like the
        non-empty one."""
        path = f"{tier_root}/bucket={bucket}"
        reader = self.spark.read.schema(STORED_EVENT_SCHEMA)
        if not self.exists(path):
            return reader.parquet()
        return reader.option("basePath", tier_root).parquet(path)

    def read_landing(self, bucket: str) -> DataFrame:
        return self._read_bucket(self.landing, bucket)

    def read_staging(self, bucket: str) -> DataFrame:
        return self._read_bucket(self.staging, bucket)

    def read_landing_sub_partitions(
        self, bucket: str, max_op_indexes: list[int]
    ) -> DataFrame:
        """Compactor input: one bucket, a chosen set of maxOpIndex
        subpartitions (ref: TableFilesCompactor.scala:156-159). The ``isin``
        on the partition column is pruned at planning time."""
        df = self.read_landing(bucket)
        return df.where(F.col("maxOpIndex").isin(max_op_indexes))

    # -- writers ---------------------------------------------------------

    def write_landing(self, df: DataFrame) -> None:
        """Batch append into landing (test/populator path; the streaming
        sink in streaming/pipeline.py writes the same layout)."""
        (
            df.write.partitionBy("bucket", "maxOpIndex")
            .mode("append")
            .parquet(self.landing)
        )

    def write_staging(self, df: DataFrame, bucket: str) -> None:
        """Compactor output: partitioned append under one bucket
        (ref: TableFilesCompactor.scala:164-171)."""
        (
            df.write.partitionBy("maxOpIndex")
            .mode("append")
            .parquet(f"{self.staging}/bucket={bucket}")
        )
