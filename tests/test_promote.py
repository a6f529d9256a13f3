"""Shared checked-rename promote protocol (sources/promote.py): normal
swap, rollback on failure at the most dangerous instant, recovery from
a hard crash between the two renames — the lifecycle every persisted
artifact (versioned catalog, compacted datasets, every per-epoch
streaming state) goes through — and a source scan that keeps it the
only renaming module."""

import contextlib
import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources import promote
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.promote import (
    promote_swap,
    read_state,
    recover_backup,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="promote-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_df(spark, payload):
    def w(path):
        spark.createDataFrame([(payload,)], "v string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    return w


def _read_v(spark, path):
    return spark.read.parquet(path).first()["v"]


def test_promote_fresh_and_replace(spark, root):
    target = f"{root}/idx"
    promote_swap(spark, target, _write_df(spark, "v1"))
    assert _read_v(spark, target) == "v1"
    promote_swap(spark, target, _write_df(spark, "v2"))
    assert _read_v(spark, target) == "v2"
    # no debris: tmp and backup both cleaned up
    assert sorted(os.listdir(root)) == ["idx"]


def test_promote_rollback_on_failure_between_renames(spark, root):
    """An exception at the instant the target is moved aside must
    restore the old content — the artifact is never lost, the promote
    is rolled back."""
    target = f"{root}/idx"
    promote_swap(spark, target, _write_df(spark, "old"))

    def boom():
        raise RuntimeError("injected crash")

    with pytest.raises(RuntimeError):
        promote_swap(
            spark, target, _write_df(spark, "new"), _crash_hook=boom
        )
    assert _read_v(spark, target) == "old"


def test_promote_recovers_hard_crash_state(spark, root):
    """Hard crash (process death) between the renames leaves the backup
    as the ONLY copy and no live target. Both recover_backup and the
    next promote_swap must restore it rather than treat the backup as
    stale debris."""
    target = f"{root}/idx"
    promote_swap(spark, target, _write_df(spark, "v1"))
    # simulate the crashed instant: target moved aside, process died
    os.rename(target, f"{target}__old")
    assert not os.path.exists(target)

    # a reader path recovers explicitly...
    assert recover_backup(spark, target) is True
    assert _read_v(spark, target) == "v1"

    # ...and a writer path recovers implicitly inside promote_swap:
    os.rename(target, f"{target}__old")
    seen = {}

    def write_after_recovery(path):
        # by write time the live target must already be restored, so a
        # compaction-style reader would see the old content
        seen["restored"] = _read_v(spark, target)
        _write_df(spark, "v2")(path)

    promote_swap(spark, target, write_after_recovery)
    assert seen["restored"] == "v1"
    assert _read_v(spark, target) == "v2"
    assert sorted(os.listdir(root)) == ["idx"]


def test_stale_backup_with_live_target_is_deleted(spark, root):
    target = f"{root}/idx"
    promote_swap(spark, target, _write_df(spark, "live"))
    os.makedirs(f"{target}__old")  # cleanup debris, target is complete
    assert recover_backup(spark, target) is False
    assert not os.path.exists(f"{target}__old")
    assert _read_v(spark, target) == "live"


def test_only_promote_gets_a_filesystem_or_renames():
    """One persisted-state protocol: no other package module may get a
    Hadoop FileSystem or rename — they call sources/promote.py."""
    here = pathlib.Path(promote.__file__)
    pkg = here.parent.parent
    offenders = [
        f"{src.relative_to(pkg)}: {needle}"
        for src in sorted(pkg.rglob("*.py"))
        if src != here
        for needle in (".rename(", "getFileSystem", "FileSystem.get")
        if needle in src.read_text()
    ]
    assert offenders == []


# --- crash window: every writer survives a kill between its renames ------
#
# Each case is (setup, op, after, read) over one work dir. The crashed
# run kills ``op`` at promote_swap's crash point, then runs ``after``
# (for compactors: commit one more epoch, compact with a later
# upto_batch; otherwise: rerun the op); its reads must equal a run
# without the crash, no crash debris may be left behind, and a read
# straight after the crash must already see the pre-crash state.

_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark structured streaming keeps exactly once sinks with batch ids",
    "parquet row groups hold column chunks with dictionary encoded pages",
    "a checked rename keeps the old directory until the new one is live",
]


class _Crash(Exception):
    pass


@contextlib.contextmanager
def _killed_at_crash_point(monkeypatch, root):
    """The next promote_swap dies at its crash point: the tree under
    ``root`` is copied at that instant and put back once the call has
    unwound — the disk state a killed process leaves behind."""
    orig = promote.promote_swap
    snap = f"{root}.crash"

    def hook():
        shutil.copytree(root, snap)
        raise _Crash()

    def crashing(*args, **kwargs):
        monkeypatch.setattr(promote, "promote_swap", orig)
        return orig(*args, _crash_hook=hook, **kwargs)

    monkeypatch.setattr(promote, "promote_swap", crashing)
    with pytest.raises(_Crash):
        yield
    shutil.rmtree(root)
    os.rename(snap, root)


def _claimed_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
        _read_claimed,
        compact_claimed,
        make_batch_fn,
    )

    def commit(spark, w, e):
        make_batch_fn(w)(
            spark.createDataFrame([(e, _TEXTS[e])], "doc_id BIGINT, text STRING"), e
        )

    def read(spark, w):
        return _read_claimed(spark, f"{w}/claimed", 2**62).distinct().collect()

    return commit, lambda spark, w, upto: compact_claimed(spark, w, upto), read


def _ewma_commit(spark, w, e):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.ewma_state import (
        make_ewma_batch_fn,
    )

    make_ewma_batch_fn(w, "k", "o", "v")(
        spark.createDataFrame(
            [(1, e, float(e + 1)), (e + 2, e, 2.5)], "k BIGINT, o BIGINT, v DOUBLE"
        ),
        e,
    )


def _ewma_read(spark, w):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.ewma_state import (
        read_ewma,
    )

    return read_ewma(spark, w, "k").collect()


def _ewma_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.ewma_state import (
        compact_ewma_state,
    )

    return (
        _ewma_commit,
        lambda spark, w, upto: compact_ewma_state(spark, w, "k", upto),
        _ewma_read,
    )


def _registers_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        compact_registers,
        make_hll_batch_fn,
        read_hll_state,
    )

    def commit(spark, w, e):
        make_hll_batch_fn(w, "user_id", p=6)(
            spark.range(e * 20, e * 20 + 30).selectExpr("id AS user_id"), e
        )

    return (
        commit,
        lambda spark, w, upto: compact_registers(spark, w),
        lambda spark, w: read_hll_state(spark, w).collect(),
    )


def _kanon_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        compact_kanon_state,
        make_kanon_batch_fn,
        read_kanon_state,
    )

    qi = ["zip", "age"]

    def commit(spark, w, e):
        make_kanon_batch_fn(w, qi)(
            spark.createDataFrame(
                [(f"z{e % 2}", 30 + e), ("z0", 30)], "zip STRING, age INT"
            ),
            e,
        )

    return (
        commit,
        lambda spark, w, upto: compact_kanon_state(spark, w, qi, upto),
        lambda spark, w: read_kanon_state(spark, w, qi).collect(),
    )


def _compactor(case):
    """Commit 0, 1; compact; commit 2; then ``op`` compacts again (the
    target of this second compaction already exists, so the crash moves
    it aside) and ``after`` commits 3 and compacts with upto_batch 4."""
    commit, compact, read = case()

    def setup(spark, w):
        commit(spark, w, 0)
        commit(spark, w, 1)
        compact(spark, w, 2)
        commit(spark, w, 2)

    def after(spark, w):
        commit(spark, w, 3)
        compact(spark, w, 4)

    return setup, lambda spark, w: compact(spark, w, 3), after, read


def _retraction_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.state_retraction import (
        retract_from_ewma_state,
    )

    def setup(spark, w):
        _ewma_commit(spark, w, 0)
        _ewma_commit(spark, w, 1)

    def retract(spark, w):
        retract_from_ewma_state(
            spark, w, spark.createDataFrame([(1,)], "k BIGINT"), "k"
        )

    return setup, retract, retract, _ewma_read


def _partitioned_case():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.compaction import (
        compact_partitioned,
    )

    def setup(spark, w):
        spark.range(24).withColumn("part", F.col("id") % 3).repartition(
            6
        ).write.partitionBy("part").parquet(f"{w}/ds")

    def compact(spark, w):
        compact_partitioned(spark, f"{w}/ds", "part")

    return (
        setup,
        compact,
        compact,
        lambda spark, w: read_state(spark, f"{w}/ds").collect(),
    )


_CRASH_CASES = {
    "compact_claimed": lambda: _compactor(_claimed_case),
    "compact_ewma_state": lambda: _compactor(_ewma_case),
    "compact_registers": lambda: _compactor(_registers_case),
    "compact_kanon_state": lambda: _compactor(_kanon_case),
    "retract_from_ewma_state": _retraction_case,
    "compact_partitioned": _partitioned_case,
}


def _debris(root):
    return [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if (n.startswith(".") and not n.endswith(".crc"))
        or n.endswith(("__new", "__old"))
    ]


@pytest.mark.parametrize("case", sorted(_CRASH_CASES))
def test_crash_between_renames_recovers(spark, root, monkeypatch, case):
    setup, op, after, read = _CRASH_CASES[case]()

    def rows(w):
        return sorted(map(tuple, read(spark, w)))

    clean, crashed = f"{root}/clean", f"{root}/crashed"
    setup(spark, clean)
    shutil.copytree(clean, crashed)
    before = rows(crashed)
    op(spark, clean)
    after(spark, clean)

    with _killed_at_crash_point(monkeypatch, crashed):
        op(spark, crashed)
    # a read alone restores the moved-aside copy (checked on a copy, so
    # the writers below meet the crash state itself)
    shutil.copytree(crashed, f"{root}/peek")
    assert rows(f"{root}/peek") == before
    after(spark, crashed)
    assert rows(crashed) == rows(clean)
    assert _debris(crashed) == []
