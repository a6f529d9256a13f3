"""Streaming-state retraction (streaming/state_retraction.py):
exact anti-join for the id-keyed prefix state, epoch rebuild for the
non-id-keyed MinHash claimed buckets, replay-as-maintenance for the
irreversible sketch registers — each proven against a rebuilt history."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.promote import (
    epoch_paths,
    list_epochs,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming import (
    state_retraction as SR,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
    make_batch_fn as mh_batch_fn,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.prefix_intake import (
    make_batch_fn as pf_batch_fn,
)

DOC_SCHEMA = "doc_id BIGINT, text STRING"

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold winter"
)
OTHER = (
    "completely different content about spark structured streaming state "
    "stores watermarks and exactly once sinks with idempotent batch writes"
)
THIRD = (
    "a third unrelated document listing parquet row groups column chunks "
    "dictionary pages bloom filters and predicate pushdown machinery here"
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="stateretract-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _read_all(spark, path):
    return spark.read.parquet(path)


def test_prefix_state_retraction_equals_rebuilt_history(spark, workdir):
    fn = pf_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE), (2, OTHER)]), 0)
    fn(_docs(spark, [(3, THIRD)]), 1)
    # retract doc 1 from every epoch table
    removed = SR.retract_from_prefix_state(
        spark, workdir, spark.createDataFrame([(1,)], "doc_id BIGINT")
    )
    assert removed["kept"] == 1 and removed["shingles"] == 1
    assert removed["prefix"] > 0
    # the rewritten state equals the state of a history WITHOUT doc 1
    ref = f"{workdir}-ref"
    try:
        fn2 = pf_batch_fn(ref)
        fn2(_docs(spark, [(2, OTHER)]), 0)
        fn2(_docs(spark, [(3, THIRD)]), 1)
        for table in ("prefix", "shingles", "kept"):
            got = sorted(
                map(tuple, _read_all(spark, f"{workdir}/{table}").drop(
                    "batch_id").collect())
            )
            want = sorted(
                map(tuple, _read_all(spark, f"{ref}/{table}").drop(
                    "batch_id").collect())
            )
            assert got == want, table
    finally:
        shutil.rmtree(ref, ignore_errors=True)
    # a future doc identical to the retracted one is admitted again
    fn(_docs(spark, [(10, BASE)]), 2)
    kept2 = _read_all(spark, f"{workdir}/kept").filter(
        F.col("batch_id") == "2"
    )
    assert [r["doc_id"] for r in kept2.collect()] == [10]


def test_minhash_state_retraction_rebuilds_claimed_epochs(spark, workdir):
    fn = mh_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE), (2, OTHER)]), 0)
    fn(_docs(spark, [(3, THIRD)]), 1)
    removed = SR.retract_from_minhash_state(
        spark, workdir, spark.createDataFrame([(1,)], "doc_id BIGINT")
    )
    assert removed["kept"] == 1
    assert removed["claimed_rebuilt_epochs"] == 1  # only epoch 0 hit
    ref = f"{workdir}-ref"
    try:
        fn2 = mh_batch_fn(ref)
        fn2(_docs(spark, [(2, OTHER)]), 0)
        fn2(_docs(spark, [(3, THIRD)]), 1)
        for table in ("claimed", "kept"):
            got = sorted(
                map(tuple, _read_all(spark, f"{workdir}/{table}").drop(
                    "batch_id").collect())
            )
            want = sorted(
                map(tuple, _read_all(spark, f"{ref}/{table}").drop(
                    "batch_id").collect())
            )
            assert got == want, table
    finally:
        shutil.rmtree(ref, ignore_errors=True)
    # the retracted doc's buckets are forgotten: an identical future doc
    # is admitted as if doc 1 never existed
    fn(_docs(spark, [(10, BASE)]), 2)
    kept2 = _read_all(spark, f"{workdir}/kept").filter(
        F.col("batch_id") == "2"
    )
    assert [r["doc_id"] for r in kept2.collect()] == [10]


def test_untouched_epochs_are_not_rewritten(spark, workdir):
    fn = pf_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE)]), 0)
    fn(_docs(spark, [(2, OTHER)]), 1)
    import os

    def mtimes(table):
        base = f"{workdir}/{table}"
        return {
            d: os.path.getmtime(f"{base}/{d}")
            for d in os.listdir(base)
            if d.startswith("batch_id=")
        }

    before = mtimes("kept")
    SR.retract_from_prefix_state(
        spark, workdir, spark.createDataFrame([(1,)], "doc_id BIGINT")
    )
    after = mtimes("kept")
    # epoch 1 (no retracted doc) keeps its directory untouched
    assert after["batch_id=1"] == before["batch_id=1"]
    assert after["batch_id=0"] != before["batch_id=0"]


def test_orphaned_backup_recovers_at_entry(spark, workdir):
    import os

    fn = pf_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE)]), 0)
    kept = f"{workdir}/kept"
    # simulate a crash between the two promote renames: the epoch dir
    # was moved aside and the new content never landed
    live, _, backup = epoch_paths(kept, 0)
    os.rename(live, backup)
    epochs = list_epochs(spark, kept)
    assert epochs == [0]
    assert os.path.isdir(f"{kept}/batch_id=0")
    rows = _read_all(spark, kept).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_sketch_epoch_rebuild_is_replay_with_survivors(spark, workdir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sketches import (
        hll_estimate,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        make_hll_batch_fn,
        read_hll_state,
    )

    fn = make_hll_batch_fn(workdir, "k", p=8)
    full = spark.createDataFrame(
        [(f"u{i}",) for i in range(100)], "k STRING"
    )
    fn(full, 0)
    # registers are a lossy max-fold: retraction = replay the epoch
    # with the surviving rows
    surviving = full.filter(F.col("k") != "u7")
    SR.rebuild_sketch_epoch(spark, fn, surviving, 0)
    got = hll_estimate(read_hll_state(spark, workdir), p=8).collect()[0]
    ref_dir = f"{workdir}-ref"
    try:
        make_hll_batch_fn(ref_dir, "k", p=8)(surviving, 0)
        want = hll_estimate(read_hll_state(spark, ref_dir), p=8).collect()[0]
        assert got["estimate"] == want["estimate"]
    finally:
        shutil.rmtree(ref_dir, ignore_errors=True)


def test_minhash_retraction_after_compaction(spark, workdir):
    """compact_claimed merges claimed epochs into one partition; a
    retraction hitting a merged-away kept epoch must rebuild the
    MERGED claimed dir from the covered range's survivors (rebuilding
    only the hit epoch's own dir would leave the retracted doc's
    buckets inside the merged partition)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.minhash_dedup import (
        compact_claimed,
    )

    fn = mh_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE)]), 0)
    fn(_docs(spark, [(2, OTHER)]), 1)
    fn(_docs(spark, [(3, THIRD)]), 2)
    compact_claimed(spark, workdir, upto_batch=3)  # merges 0,1,2 -> batch_id=2
    removed = SR.retract_from_minhash_state(
        spark, workdir, spark.createDataFrame([(1,)], "doc_id BIGINT")
    )
    assert removed["kept"] == 1
    assert removed["claimed_rebuilt_epochs"] == 1  # the merged partition
    # claimed state equals a compacted history that never saw doc 1
    ref = f"{workdir}-ref"
    try:
        fn2 = mh_batch_fn(ref)
        fn2(_docs(spark, [(2, OTHER)]), 1)
        fn2(_docs(spark, [(3, THIRD)]), 2)
        want = sorted(
            map(tuple, _read_all(spark, f"{ref}/claimed").drop(
                "batch_id").distinct().collect())
        )
        got = sorted(
            map(tuple, _read_all(spark, f"{workdir}/claimed").drop(
                "batch_id").distinct().collect())
        )
        assert got == want
    finally:
        shutil.rmtree(ref, ignore_errors=True)
    # the forgotten doc's content is admissible again
    fn(_docs(spark, [(10, BASE)]), 3)
    kept3 = _read_all(spark, f"{workdir}/kept").filter(
        F.col("batch_id") == "3"
    )
    assert [r["doc_id"] for r in kept3.collect()] == [10]


# --- r9: the two round-8 state families ---------------------------------------


def test_ewma_state_retraction_equals_rebuilt_history(spark, workdir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.ewma_state import (
        make_ewma_batch_fn,
        read_ewma,
    )

    fn = make_ewma_batch_fn(workdir, "k", "o", "v")
    rows0 = [(1, 0, 1.00), (1, 1, 2.00), (2, 0, 4.25)]
    rows1 = [(1, 2, 0.50), (3, 0, 7.00)]
    sch = "k BIGINT, o BIGINT, v DOUBLE"
    fn(spark.createDataFrame(rows0, sch), 0)
    fn(spark.createDataFrame(rows1, sch), 1)
    removed = SR.retract_from_ewma_state(
        spark, workdir, spark.createDataFrame([(1,)], "k BIGINT"), "k"
    )
    assert removed["ewma"] == 2  # key 1 touched both epochs
    ref = f"{workdir}-ref"
    try:
        fn2 = make_ewma_batch_fn(ref, "k", "o", "v")
        fn2(spark.createDataFrame(
            [r for r in rows0 if r[0] != 1], sch), 0)
        fn2(spark.createDataFrame(
            [r for r in rows1 if r[0] != 1], sch), 1)
        got = sorted(map(tuple, read_ewma(spark, workdir, "k").collect()))
        want = sorted(map(tuple, read_ewma(spark, ref, "k").collect()))
        assert got == want
    finally:
        shutil.rmtree(ref, ignore_errors=True)
    # a future batch for the retracted key folds from scratch
    fn(spark.createDataFrame([(1, 3, 9.00)], sch), 2)
    out = {r["k"]: r for r in read_ewma(spark, workdir, "k").collect()}
    assert out[1]["n_points"] == 1 and out[1]["ewma"] == 9.0


def test_exactsubstr_state_retraction_rebuilds_anchor_epochs(spark, workdir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.exactsubstr_intake import (
        make_batch_fn as es_batch_fn,
    )

    fn = es_batch_fn(workdir)
    b0 = [(1, BASE), (2, OTHER)]
    b1 = [(3, THIRD)]
    fn(_docs(spark, b0), 0)
    fn(_docs(spark, b1), 1)
    sources = {0: _docs(spark, b0), 1: _docs(spark, b1)}
    removed = SR.retract_from_exactsubstr_state(
        spark, workdir, spark.createDataFrame([(1,)], "doc_id BIGINT"),
        sources,
    )
    assert removed["kept"] == 1
    assert removed["anchor_rebuilt_epochs"] == 1  # only epoch 0 hit
    # state equals a rebuilt history without doc 1 (both tables)
    ref = f"{workdir}-ref"
    try:
        fn2 = es_batch_fn(ref)
        fn2(_docs(spark, [(2, OTHER)]), 0)
        fn2(_docs(spark, b1), 1)
        for table in ("anchors", "kept"):
            got = sorted(
                map(repr, _read_all(spark, f"{workdir}/{table}").drop(
                    "batch_id").collect())
            )
            want = sorted(
                map(repr, _read_all(spark, f"{ref}/{table}").drop(
                    "batch_id").collect())
            )
            assert got == want, table
    finally:
        shutil.rmtree(ref, ignore_errors=True)
    # a future doc identical to the retracted one is admitted UNREWRITTEN
    fn(_docs(spark, [(10, BASE)]), 2)
    kept2 = _read_all(spark, f"{workdir}/kept").filter(
        F.col("batch_id") == "2"
    ).collect()
    assert len(kept2) == 1 and kept2[0]["doc_id"] == 10
    assert kept2[0]["n_removed"] == 0


def test_exactsubstr_retraction_requires_epoch_sources(spark, workdir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.exactsubstr_intake import (
        make_batch_fn as es_batch_fn,
    )

    fn = es_batch_fn(workdir)
    fn(_docs(spark, [(1, BASE)]), 0)
    with pytest.raises(ValueError, match="epoch_sources"):
        SR.retract_from_exactsubstr_state(
            spark, workdir,
            spark.createDataFrame([(1,)], "doc_id BIGINT"), {},
        )


def test_bottomk_values_retraction_antijoin_and_rebuild(spark, workdir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sketches import (
        bottomk_value_sample,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        make_bottomk_values_batch_fn,
        read_bottomk_values_state,
    )

    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 31).cast("double").alias("value"),
    )
    b0, b1 = mk(0, 200), mk(200, 400)
    fn = make_bottomk_values_batch_fn(workdir, "event_id", "value", k=12)
    fn(b0, 0)
    fn(b1, 1)

    # pick two keys that are actually IN epoch 0's sample
    ep0 = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=0")
    victims = [r["key"] for r in ep0.orderBy("h").limit(2).collect()]
    gone = spark.createDataFrame([(v,) for v in victims], "key STRING")

    # anti-join form: epoch 0 now holds exactly the bottom-(k-2) sample
    # of its SURVIVORS (the provable-shape property)
    out = SR.retract_from_bottomk_values_state(
        spark, workdir, gone, key_col="event_id", val_col="value", k=12
    )
    assert out == {"rows_removed": 2, "epochs_rebuilt": 0}
    left = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=0")
    surv0 = b0.filter(~F.col("event_id").cast("string").isin(victims))
    expect = (
        bottomk_value_sample(surv0, "event_id", "value", 12)
        .orderBy("h").limit(10)
    )
    assert sorted(map(tuple, left.collect())) == sorted(
        map(tuple, expect.collect())
    )

    # rebuild form restores the full k and the merged read equals a
    # rebuilt history without the victims
    out2 = SR.retract_from_bottomk_values_state(
        spark, workdir,
        spark.createDataFrame([(victims[0],)], "key STRING"),
        epoch_sources={0: surv0},
        key_col="event_id", val_col="value", k=12,
    )
    # victim0 already gone from the state rows, so nothing is removed —
    # force a rebuild by retracting a key still present in epoch 1
    ep1 = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=1")
    v1 = ep1.orderBy("h").limit(1).collect()[0]["key"]
    surv1 = b1.filter(F.col("event_id").cast("string") != v1)
    out3 = SR.retract_from_bottomk_values_state(
        spark, workdir,
        spark.createDataFrame([(v1,)], "key STRING"),
        epoch_sources={1: surv1},
        key_col="event_id", val_col="value", k=12,
    )
    assert out3 == {"rows_removed": 1, "epochs_rebuilt": 1}
    ep1_after = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=1")
    expect1 = bottomk_value_sample(surv1, "event_id", "value", 12)
    assert sorted(map(tuple, ep1_after.collect())) == sorted(
        map(tuple, expect1.collect())
    )
    # a retracted key never reappears in the merged read
    read = read_bottomk_values_state(spark, workdir, 12)
    keys = {r["key"] for r in read.collect()}
    assert not ({victims[0], victims[1], v1} & keys)


def test_bottomk_values_retraction_with_key_col_named_key(spark, workdir):
    """Rebuild path with the DEFAULT key_col='key': before the r11 fix
    the epoch_sources anti-join condition referenced an ids column also
    named 'key' and raised AMBIGUOUS_REFERENCE mid-loop (partial
    retraction hazard). The source here literally has a 'key' column."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sketches import (
        bottomk_value_sample,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        make_bottomk_values_batch_fn,
        read_bottomk_values_state,
    )

    src = spark.range(0, 150).select(
        F.col("id").cast("string").alias("key"),
        (F.col("id") % 17).cast("double").alias("val"),
    )
    fn = make_bottomk_values_batch_fn(workdir, "key", "val", k=10)
    fn(src, 0)
    ep0 = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=0")
    victim = ep0.orderBy("h").limit(1).collect()[0]["key"]
    surv = src.filter(F.col("key") != victim)
    out = SR.retract_from_bottomk_values_state(
        spark, workdir,
        spark.createDataFrame([(victim,)], "key STRING"),
        epoch_sources={0: surv},
        # defaults: key_col='key', val_col='val'
        k=10,
    )
    assert out == {"rows_removed": 1, "epochs_rebuilt": 1}
    expect = bottomk_value_sample(surv, "key", "val", 10)
    got = spark.read.parquet(f"{workdir}/bottomk_values/batch_id=0")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )
    assert victim not in {
        r["key"] for r in read_bottomk_values_state(spark, workdir, 10).collect()
    }


def test_votes_state_retraction_equals_rebuilt_history(spark, workdir):
    """r13: the annotation vote state retracts exactly in BOTH key
    spaces (annotator opt-out and item takedown), and the derived
    consensus/kappa reads equal the batch operators on the surviving
    votes — closing the 'every state family retracts' invariant."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        annotation as AN,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.streaming.sketch_state import (
        make_votes_batch_fn,
        read_agreement_state,
        read_consensus_state,
    )

    sch = "item BIGINT, annotator BIGINT, label STRING"
    rows0 = [(1, 10, "a"), (1, 11, "b"), (1, 12, "b"), (2, 10, "x"),
             (2, 11, "x")]
    rows1 = [(1, 13, "a"), (2, 12, "y"), (3, 10, "z"), (3, 11, "z")]
    fn = make_votes_batch_fn(workdir)
    fn(spark.createDataFrame(rows0, sch), 0)
    fn(spark.createDataFrame(rows1, sch), 1)

    removed = SR.retract_from_votes_state(
        spark, workdir, spark.createDataFrame([(10,)], "annotator BIGINT"),
        "annotator",
    )
    assert removed["votes"] == 3  # annotator 10 voted in both epochs

    # retracted state == a history that never saw annotator 10
    ref = f"{workdir}-ref"
    try:
        fn2 = make_votes_batch_fn(ref)
        fn2(spark.createDataFrame(
            [r for r in rows0 if r[1] != 10], sch), 0)
        fn2(spark.createDataFrame(
            [r for r in rows1 if r[1] != 10], sch), 1)
        got = sorted(map(tuple, read_consensus_state(spark, workdir).collect()))
        want = sorted(map(tuple, read_consensus_state(spark, ref).collect()))
        assert got == want and got
        ka = read_agreement_state(spark, workdir).first()
        kb = read_agreement_state(spark, ref).first()
        assert ka.asDict() == kb.asDict()
    finally:
        shutil.rmtree(ref, ignore_errors=True)

    # the reads also equal the BATCH operators on the surviving votes
    surviving = spark.createDataFrame(
        [r for r in rows0 + rows1 if r[1] != 10], sch
    )
    got = sorted(map(tuple, read_consensus_state(spark, workdir).collect()))
    batch = sorted(map(tuple, AN.consensus_labels(
        surviving, "item", "annotator", "label").collect()))
    assert got == batch

    # item takedown: the other key space
    removed = SR.retract_from_votes_state(
        spark, workdir, spark.createDataFrame([(1,)], "item BIGINT"), "item"
    )
    assert removed["votes"] == 3  # item 1's surviving votes (11, 12, 13)
    left = {r["item"] for r in read_consensus_state(spark, workdir).collect()}
    assert left == {2, 3}

    # a future vote from the retracted annotator is admitted as new:
    # item 3's surviving vote is z×1 (annotator 11; 10's original z was
    # retracted), the fresh w×1 ties it, min-label tie-break -> "w"
    fn(spark.createDataFrame([(3, 10, "w")], sch), 2)
    out = {
        r["item"]: (r["label"], r["n_votes"], r["n_ratings"])
        for r in read_consensus_state(spark, workdir).collect()
    }
    assert out[3] == ("w", 1, 2)

    with pytest.raises(ValueError, match="key_col"):
        SR.retract_from_votes_state(
            spark, workdir, spark.createDataFrame([(1,)], "x BIGINT"),
            "label",
        )
