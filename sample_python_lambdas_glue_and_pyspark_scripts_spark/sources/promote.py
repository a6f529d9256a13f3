"""Checked-rename promote: the one persisted-state protocol every
artifact shares, and the only module that gets a Hadoop FileSystem or
renames.

The engine persists several incrementally-maintained artifacts — the
versioned-catalog pointer table (``operators/versioning.py``), compacted
datasets (``sources/compaction.py``) and the per-epoch streaming states
(``streaming/*``: claimed buckets, EWMA, registers, k-anonymity classes,
retraction rewrites) — and each needs the same guarantee when it
replaces a live directory: **the old content survives until the new
content is in place**. Hadoop ``FileSystem.rename`` reports failure
through its RETURN VALUE, not an exception, so a naive
``rename(target, bak); rename(tmp, target)`` can silently drop the
artifact if the second rename fails (CLAUDE.md hard-won constraint).

Two naming rules, one per artifact shape:

- whole artifact (catalog, compacted dataset): ``<target>__new`` and
  ``<target>__old`` siblings (:func:`promote_swap` defaults);
- epoch table (``<table>/batch_id=<label>`` dirs): ``.tmp_<label>`` and
  ``.bak_<label>`` INSIDE the table dir (:func:`replace_epoch`) — dot
  names stay invisible to Spark's partition discovery, and every
  compactor, retraction and reader finds an orphaned backup by the same
  rule whatever its label.

Sequence (single-writer per artifact, as everywhere in SURVEY §4.3):

1. caller materializes the NEW content at ``tmp`` (complete write —
   parquet ``_SUCCESS`` discipline is the writer's);
2. crash recovery: a leftover backup with NO live target means a prior
   run died between its two renames — restore the backup first, so the
   pre-crash state is live before this run's swap begins;
3. ``rename(target, backup)`` (checked) — the old content is now the
   backup, never deleted yet;
4. ``rename(tmp, target)`` (checked) — on failure the backup is
   restored and the error raised: the artifact is never lost, at worst
   the promote is rolled back;
5. only now delete the backup.

Reads follow one rule too (:func:`read_state`): recover before read;
absent → None, broken → raise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_TMP = ".tmp_"
_BAK = ".bak_"


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, Path)`` for ``path``'s filesystem — the py4j handles every
    persisted-state site needs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def recover_backup(
    spark: SparkSession,
    target: str,
    backup: str | None = None,
    error_cls: type[Exception] = IOError,
) -> bool:
    """Crash recovery for a promote site: a leftover backup with NO
    live target means a prior run died between its two renames and the
    backup is the only complete copy — restore it. A backup WITH a live
    target is stale cleanup debris — delete it. Call this BEFORE
    reading ``target`` to build new content (``promote_swap`` also runs
    it, but by then the caller's read lineage may already have resolved
    against the missing path). Returns True if a restore happened."""
    backup = backup or f"{target}__old"
    fs, hpath = hadoop_fs(spark, target)
    t, b = hpath(target), hpath(backup)
    if not fs.exists(b):
        return False
    if not fs.exists(t):
        if not fs.rename(b, t):
            raise error_cls(
                f"recover_backup: cannot restore {backup} to {target}"
            )
        return True
    fs.delete(b, True)
    return False


def promote_swap(
    spark: SparkSession,
    target: str,
    write_tmp,
    tmp: str | None = None,
    backup: str | None = None,
    error_cls: type[Exception] = IOError,
    _crash_hook=None,
) -> None:
    """Atomically-as-the-FS-allows replace ``target`` with freshly
    written content, keeping the old content as a backup until the new
    content is live.

    ``write_tmp(tmp_path)`` materializes the new content (called first;
    any failure there leaves the live target untouched). ``tmp`` /
    ``backup`` default to the ``__new`` / ``__old`` siblings of
    ``target``. ``error_cls`` is raised on a failed rename (after
    restoring the backup). ``_crash_hook`` is test-only fault
    injection, invoked at the most dangerous instant — after the target
    was moved aside, before the new content was promoted; an exception
    from it triggers the same restore path a failed promote rename does.
    """
    tmp = tmp or f"{target}__new"
    backup = backup or f"{target}__old"
    fs, hpath = hadoop_fs(spark, target)
    t, b, n = hpath(target), hpath(backup), hpath(tmp)

    recover_backup(spark, target, backup, error_cls)

    fs.delete(n, True)
    write_tmp(tmp)

    had_target = fs.exists(t)
    if had_target and not fs.rename(t, b):
        raise error_cls(
            f"promote_swap: cannot move {target} aside to {backup}"
        )
    try:
        if _crash_hook is not None:
            _crash_hook()
    except BaseException:
        if had_target:
            fs.rename(b, t)
        raise
    if not fs.rename(n, t):
        if had_target:
            fs.rename(b, t)  # restore; original state intact
        raise error_cls(f"promote_swap: cannot promote {tmp} to {target}")
    fs.delete(b, True)


def epoch_paths(table_dir: str, label) -> tuple[str, str, str]:
    """``(live, tmp, backup)`` paths of epoch ``label`` in an epoch
    table — the one epoch-table naming rule."""
    return (
        f"{table_dir}/batch_id={label}",
        f"{table_dir}/{_TMP}{label}",
        f"{table_dir}/{_BAK}{label}",
    )


def _recovered_children(
    spark: SparkSession, table_dir: str, drop_tmp: bool = False
) -> list[str]:
    """Child names of ``table_dir`` ([] when absent) after restoring
    every orphaned ``.bak_<label>`` to ``batch_id=<label>`` — a backup
    with no live epoch IS that epoch. ``drop_tmp`` also deletes
    ``.tmp_<label>`` debris (never the only copy of anything: a tmp
    only becomes live through the promote rename)."""
    fs, hpath = hadoop_fs(spark, table_dir)
    root = hpath(table_dir)
    if not fs.exists(root):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(root)]
    for n in names:
        if n.startswith(_BAK):
            live, _, backup = epoch_paths(table_dir, n[len(_BAK):])
            recover_backup(spark, live, backup)
        elif drop_tmp and n.startswith(_TMP):
            fs.delete(hpath(f"{table_dir}/{n}"), True)
    if any(n.startswith((_BAK, _TMP)) for n in names):
        names = [st.getPath().getName() for st in fs.listStatus(root)]
    return names


def read_state(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Read a persisted parquet state, recovering first: a crashed
    whole-artifact swap (``<path>__old``) and every orphaned epoch
    backup (``.bak_<label>``) are restored before the read, so a read
    never skips a moved-aside epoch. Returns None only when ``path`` is
    absent or has no visible child (no name starting with ``.`` or
    ``_``: nothing committed yet, or a root whose epochs were all
    compacted away). Any other read failure propagates — silently
    treating a broken state as empty history would lose or re-admit
    data."""
    recover_backup(spark, path)
    if not any(
        not n.startswith((".", "_")) for n in _recovered_children(spark, path)
    ):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def list_epochs(spark: SparkSession, table_dir: str) -> list[int]:
    """Sorted integer epochs (``batch_id=N`` dirs) of an epoch table
    after recovery: orphaned ``.bak_<label>`` backups of ANY label
    (``compact`` too) are restored and ``.tmp_<label>`` debris deleted,
    so every maintenance pass starts from the pre-crash state."""
    epochs = []
    for name in _recovered_children(spark, table_dir, drop_tmp=True):
        key, _, label = name.partition("=")
        if key == "batch_id" and label.isdigit():
            epochs.append(int(label))
    return sorted(epochs)


def replace_epoch(
    spark: SparkSession, table_dir: str, label, new_df: DataFrame
) -> None:
    """Replace ``table_dir/batch_id=<label>`` with ``new_df`` under the
    checked-rename promote, with the :func:`epoch_paths` tmp/backup
    names (partition discovery must never see a half-state name like
    ``batch_id=5__new``)."""
    live, tmp, backup = epoch_paths(table_dir, label)
    promote_swap(
        spark,
        live,
        lambda path: new_df.write.mode("overwrite").parquet(path),
        tmp=tmp,
        backup=backup,
    )


def drop_epochs(spark: SparkSession, table_dir: str, labels) -> int:
    """Delete ``table_dir/batch_id=<label>`` for each label — the epochs
    a compaction merged away, deleted only after its swap landed.
    Returns how many labels were given."""
    fs, hpath = hadoop_fs(spark, table_dir)
    labels = list(labels)
    for label in labels:
        fs.delete(hpath(epoch_paths(table_dir, label)[0]), True)
    return len(labels)
