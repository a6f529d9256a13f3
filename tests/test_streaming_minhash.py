"""Streaming MinHash-LSH near-dup intake (streaming/minhash_dedup.py):
batch admission semantics, cross-batch claimed-bucket state, replay
idempotency, and batch↔streaming signature parity."""

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
    band_keys,
    minhash_signature,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.promote import (
    epoch_paths,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
    _read_claimed,
    lsh_admit,
    streaming_minhash_dedup,
)

DOC_SCHEMA = "doc_id BIGINT, text STRING"

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold winter"
)
NEAR_DUP = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold night"
)
DISTINCT_1 = (
    "completely different content about spark structured streaming state "
    "stores watermarks and exactly once sinks with idempotent batch writes"
)
DISTINCT_2 = (
    "a third unrelated document discussing parquet row groups column "
    "chunks page compression dictionaries and predicate pushdown at scan"
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="streamminhash-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _drop_parquet(spark, rows, path):
    _docs(spark, rows).coalesce(1).write.mode("append").parquet(path)


def _stream(spark, path, workdir):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = streaming_minhash_dedup(stream, workdir)
    q.awaitTermination(180)


def test_lsh_admit_batch_greedy(spark):
    docs = _docs(
        spark,
        [(1, BASE), (2, NEAR_DUP), (3, DISTINCT_1), (4, DISTINCT_2)],
    )
    kept, buckets = lsh_admit(docs, claimed=None)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # 2 is a near-dup of 1 (shares LSH buckets) → dropped; min id wins
    assert kept_ids == [1, 3, 4]
    # kept docs' buckets are claimed, and only theirs
    expect = (
        band_keys(minhash_signature(docs.filter(F.col("doc_id") != 2)))
        .select("band_id", "band_hash")
        .distinct()
    )
    assert buckets.exceptAll(expect).count() == 0
    assert expect.exceptAll(buckets).count() == 0


def test_lsh_admit_against_history(spark):
    first = _docs(spark, [(1, BASE)])
    _, claimed = lsh_admit(first, claimed=None)
    later = _docs(spark, [(10, NEAR_DUP), (11, DISTINCT_1)])
    kept, new_buckets = lsh_admit(later, claimed=claimed)
    assert [r["doc_id"] for r in kept.collect()] == [11]
    # history buckets are not re-claimed
    assert new_buckets.join(claimed, ["band_id", "band_hash"], "left_semi").count() == 0


def test_streaming_dedup_across_batches(spark, workdir):
    inp = f"{workdir}/in"
    eng = f"{workdir}/eng"
    os.makedirs(inp)
    _drop_parquet(spark, [(1, BASE), (2, DISTINCT_1)], inp)
    _stream(spark, inp, eng)
    kept = spark.read.parquet(f"{eng}/kept")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]

    # second arrival: near-dup of doc 1 + identical copy of doc 2 + novel doc
    _drop_parquet(spark, [(10, NEAR_DUP), (11, DISTINCT_1), (12, DISTINCT_2)], inp)
    _stream(spark, inp, eng)
    kept = spark.read.parquet(f"{eng}/kept")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 12]


def test_replay_is_idempotent(spark, workdir):
    """Re-running a micro-batch (checkpoint recovery) must not
    double-claim buckets or drop the batch's own docs as dups."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
        lsh_admit as _admit,
    )

    claimed_dir = f"{workdir}/claimed"
    kept_dir = f"{workdir}/kept"

    def run_batch(batch_df, batch_id):
        claimed = _read_claimed(spark, claimed_dir, batch_id)
        kept, new_buckets = _admit(batch_df, claimed)
        new_buckets.write.mode("overwrite").parquet(
            f"{claimed_dir}/batch_id={batch_id}"
        )
        kept.write.mode("overwrite").parquet(f"{kept_dir}/batch_id={batch_id}")

    b0 = _docs(spark, [(1, BASE), (2, DISTINCT_1)])
    run_batch(b0, 0)
    run_batch(b0, 0)  # replay of the same epoch
    kept = spark.read.parquet(kept_dir)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]

    b1 = _docs(spark, [(10, NEAR_DUP), (12, DISTINCT_2)])
    run_batch(b1, 1)
    run_batch(b1, 1)
    kept = spark.read.parquet(kept_dir)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 12]
    # claimed table holds each kept doc's buckets exactly once
    claimed = spark.read.parquet(claimed_dir)
    assert claimed.count() == claimed.distinct().count()


def test_single_batch_matches_static_admit(spark, workdir):
    """Streaming over one file == lsh_admit on the same static DF
    (batch↔streaming parity of the admission rule)."""
    inp = f"{workdir}/in"
    eng = f"{workdir}/eng"
    os.makedirs(inp)
    rows = [(1, BASE), (2, NEAR_DUP), (3, DISTINCT_1), (4, DISTINCT_2)]
    _drop_parquet(spark, rows, inp)
    _stream(spark, inp, eng)
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{eng}/kept").collect()
    )
    want_df, _ = lsh_admit(_docs(spark, rows), claimed=None)
    want = sorted(r["doc_id"] for r in want_df.collect())
    assert got == want


def test_compact_claimed_preserves_history(spark, workdir):
    """Compacting the claimed table between runs must not change
    admission behavior: merged history still blocks near-dups arriving
    after the compaction, per-batch dirs collapse to one, and row count
    drops to the distinct bucket set."""
    import glob

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
        compact_claimed,
    )

    inp = f"{workdir}/in"
    _drop_parquet(spark, [(1, BASE)], inp)
    _drop_parquet(spark, [(2, DISTINCT_1)], inp)
    _drop_parquet(spark, [(3, DISTINCT_2)], inp)
    _stream(spark, inp, workdir)  # 3 batches, checkpoint sealed

    dirs_before = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{workdir}/claimed/batch_id=*")
    )
    assert len(dirs_before) == 3
    before, after = compact_claimed(spark, workdir, upto_batch=3)
    assert after <= before and after > 0
    dirs_after = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{workdir}/claimed/batch_id=*")
    )
    assert dirs_after == ["batch_id=2"]
    # no crash debris (tmp or backup) left in the work dir or claimed/
    assert [
        n for d in (workdir, f"{workdir}/claimed")
        for n in os.listdir(d) if n.startswith(".")
    ] == []

    # resume the stream: a near-dup of batch-0 content must still be
    # dropped against the COMPACTED history; fresh content admitted
    _drop_parquet(spark, [(10, NEAR_DUP), (11, "totally novel words "
                          "about bucketing compaction and state")], inp)
    _stream(spark, inp, workdir)
    kept = spark.read.parquet(f"{workdir}/kept")
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    assert kept_ids == [1, 2, 3, 11]


def test_compact_claimed_recovers_orphaned_backup(spark, workdir):
    """A crash between the backup and promote renames leaves state only
    in the hidden epoch backup; the next compaction call must restore
    it before reading history, so no claims are lost."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
        compact_claimed,
    )

    inp = f"{workdir}/in"
    _drop_parquet(spark, [(1, BASE)], inp)
    _drop_parquet(spark, [(2, DISTINCT_1)], inp)
    _stream(spark, inp, workdir)  # batches 0, 1

    # simulate the crash window: batch_id=1 renamed to the backup,
    # promote never happened
    live, _, backup = epoch_paths(f"{workdir}/claimed", 1)
    os.rename(live, backup)
    before, after = compact_claimed(spark, workdir, upto_batch=2)
    assert after > 0
    # the merged table must include batch 1's claims: a near-dup of
    # DISTINCT_1 arriving later is still dropped
    _drop_parquet(spark, [(20, DISTINCT_1 + " extra")], inp)
    _stream(spark, inp, workdir)
    kept_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{workdir}/kept").collect()
    )
    assert kept_ids == [1, 2]
