"""Archive + cleanup with copy-count verification (SURVEY.md §2.9 O6).

The reference archives run inputs/outputs to a dated path, verifies each
copy with head_object + count checks, then deletes the sources
(/root/reference/src/price_zone/data_backup_job.py:40-71,
 /root/reference/src/util/move_s3_objects.py:27-100). Here the same
semantics run through Hadoop's FileSystem API (works for file://, s3a://,
hdfs:// alike), so the engine needs no cloud SDK: list → copy → verify
(existence + count + size) → delete-source.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .promote import hadoop_fs


class ArchiveVerificationError(RuntimeError):
    """Copy verification failed — sources are NOT deleted (reference
    behavior: raise before cleanup, move_s3_objects.py:56-70)."""


@dataclass
class ArchiveResult:
    copied: int
    deleted: int
    archive_path: str


def list_files(spark: SparkSession, path: str) -> list[str]:
    """S9: recursive file listing (reference: paginated list_objects_v2)."""
    fs, Path = hadoop_fs(spark, path)
    p = Path(path)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return sorted(out)


def archive_and_cleanup(
    spark: SparkSession,
    source_path: str,
    archive_path: str,
    delete_source: bool = True,
) -> ArchiveResult:
    """Copy source_path's files under archive_path, verify, then delete.

    Verification = every target exists with the source's length, and
    target count == source count (the reference's head_object + count
    validation). Any mismatch raises and leaves sources intact.
    """
    fs, Path = hadoop_fs(spark, source_path)
    FileUtil = spark._jvm.org.apache.hadoop.fs.FileUtil
    conf = spark._jsc.hadoopConfiguration()

    sources = list_files(spark, source_path)
    src_root = Path(source_path)
    src_root_str = fs.makeQualified(src_root).toString().rstrip("/")

    copied = []
    for s in sources:
        rel = s[len(src_root_str):].lstrip("/")
        dst = Path(archive_path.rstrip("/") + "/" + rel)
        fs.mkdirs(dst.getParent())
        ok = FileUtil.copy(fs, Path(s), fs, dst, False, True, conf)
        if not ok:
            raise ArchiveVerificationError(f"copy failed: {s} -> {dst}")
        copied.append((s, dst))

    # verify: existence + size per file, then count
    for s, dst in copied:
        if not fs.exists(dst):
            raise ArchiveVerificationError(f"missing after copy: {dst}")
        if fs.getFileStatus(Path(s)).getLen() != fs.getFileStatus(dst).getLen():
            raise ArchiveVerificationError(f"size mismatch: {s} vs {dst}")
    n_archived = len(list_files(spark, archive_path))
    if n_archived < len(sources):
        raise ArchiveVerificationError(
            f"count mismatch: {n_archived} archived < {len(sources)} sources"
        )

    deleted = 0
    if delete_source:
        for s, _ in copied:
            if fs.delete(Path(s), False):
                deleted += 1
    return ArchiveResult(copied=len(copied), deleted=deleted, archive_path=archive_path)
