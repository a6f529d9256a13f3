"""Small-file compaction (SURVEY.md §7.1 M7).

Partitioned sinks accumulate small files (per-trigger streaming appends,
per-opco incremental loads). Small files poison scan parallelism setup
cost and NameNode/listing overhead at 100 TB. ``compact_partitioned``
rewrites a hive-partitioned dataset with size-targeted files per
partition, preserving partition values.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_by: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> dict:
    """Rewrite ``path`` with ~target-sized files per partition.

    Files-per-partition is derived from current on-disk bytes; the
    rewrite goes through the checked-rename promote (``promote_swap``),
    so readers never see a half-compacted dataset, and a crash between
    its renames is recovered before the next call reads the dataset.
    Returns {files_before, files_after}.
    """
    from .promote import hadoop_fs, promote_swap, recover_backup

    path = path.rstrip("/")
    recover_backup(spark, path)
    fs, Path = hadoop_fs(spark, path)

    def stats(p: str) -> tuple[int, int]:
        it = fs.listFiles(Path(p), True)
        n = b = 0
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if not name.startswith("_"):
                n += 1
                b += st.getLen()
        return n, b

    files_before, total_bytes = stats(path)
    df = spark.read.format(fmt).load(path)
    n_partitions = max(
        1, df.select(partition_by).distinct().count()
    )
    files_per_partition = max(1, round(total_bytes / n_partitions / target_file_bytes))

    # repartition on (partition key, salt): hashing on the key alone puts
    # each partition value in ONE task, so a hot partition could never be
    # split into multiple target-sized files
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per_partition))
    promote_swap(
        spark,
        path,
        lambda tmp: (
            df.withColumn("__salt", salt)
            .repartition(n_partitions * files_per_partition, F.col(partition_by), F.col("__salt"))
            .drop("__salt")
            .write.partitionBy(partition_by)
            .mode("overwrite")
            .format(fmt)
            .save(tmp)
        ),
        error_cls=RuntimeError,
    )
    files_after, _ = stats(path)
    return {"files_before": files_before, "files_after": files_after}
