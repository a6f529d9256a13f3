"""Streaming per-key EWMA state: the fixed-point recursion of
``operators/timeseries.ewma_last`` maintained across micro-batches —
the recency-weighted level a drift monitor reads live instead of
re-folding history.

State layout (the established per-epoch discipline): each micro-batch
writes ``ewma/batch_id=N/`` holding the UPDATED ``(key, s, n_points)``
rows for the keys it saw — a DELTA snapshot, so state on disk grows
with touched keys per epoch, not with |keys| × epochs. Reads take the
LATEST row per key over ``batch_id < N`` (max-epoch wins); a replayed
batch overwrites its own dir and never reads itself — the
minhash_dedup exactly-once contract.

Parity contract (pinned by test): because resuming the integer fold
from a stored state IS the same computation as folding the
concatenated history (``timeseries.ewma_fold``), the streaming state
after any batch sequence equals ``ewma_last`` over the union of those
batches — PROVIDED each key's ``order_col`` values arrive
non-decreasing across batches (the event-time-monotonic intake
assumption; within a batch any order is fine, the fold sorts). With
out-of-order arrival the result is the EWMA in arrival-batch order —
a documented, still-deterministic semantic, not an error.

Scale: per batch ONE keyed shuffle over the batch's keys + a
broadcast-sized join against the latest state of THOSE keys only
(state is read filtered by the batch's key set — the corpus-index
probe discipline); compaction of old epochs = keep the latest row per
key (maintenance, same promote pattern as compact_claimed).

Domain caveat (same as ``ewma_last``): values must be NON-NEGATIVE —
the half-up integer division identity assumes it, and a stored state
of exactly -1 would collide with the no-state sentinel. Enforced: a
negative value raises at fold time (``timeseries.ewma_scaled_value``);
filter or shift the input before the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.timeseries import ewma_fold, ewma_scaled_value
from ..sources.promote import drop_epochs, list_epochs, read_state, replace_epoch
from .incremental import run_incremental


def _read_latest_state(
    spark: SparkSession,
    work_dir: str,
    before_batch: int,
    key_col: str,
    only_keys: DataFrame | None = None,
) -> DataFrame | None:
    """Latest ``(key, s, n_points)`` per key from epochs strictly before
    ``before_batch``; None when no state exists yet. ``only_keys``
    (the batch's distinct keys) filters the state rows BEFORE the
    latest-wins aggregate, so the per-batch cost is sized by the
    touched keys' history, never the whole key universe."""
    raw = read_state(spark, f"{work_dir}/ewma")
    if raw is None:
        return None
    raw = raw.filter(F.col("batch_id").cast("bigint") < before_batch)
    if only_keys is not None:
        raw = raw.join(only_keys.select(key_col), key_col, "left_semi")
    return raw.groupBy(key_col).agg(
        F.max_by(
            F.struct("s", "n_points"), F.col("batch_id").cast("bigint")
        ).alias("_st")
    ).select(key_col, F.col("_st.s").alias("s"),
             F.col("_st.n_points").alias("n_points"))


def ewma_update(
    batch: DataFrame,
    prior: DataFrame | None,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha_num: int = 3,
    alpha_den: int = 10,
    scale: int = 2,
) -> DataFrame:
    """One round: fold the batch's values (per key, ``order_col``
    order) onto the prior integer state. Returns the UPDATED
    ``(key, s, n_points)`` rows for keys seen in this batch only."""
    mult = 10 ** int(scale)
    xi = ewma_scaled_value(value_col, mult)
    grouped = (
        batch.filter(
            F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(key_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(order_col).alias("o"), xi.alias("x"))
                    )
                ),
                lambda st: st["x"],
            ).alias("_vals"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    if prior is not None:
        grouped = grouped.join(
            prior.select(
                key_col,
                F.col("s").alias("_ps"),
                F.col("n_points").alias("_pn"),
            ),
            key_col,
            "left",
        )
    else:
        grouped = grouped.withColumn(
            "_ps", F.lit(None).cast("bigint")
        ).withColumn("_pn", F.lit(None).cast("bigint"))
    init = F.coalesce(F.col("_ps"), F.lit(-1).cast("bigint"))
    return grouped.select(
        key_col,
        ewma_fold(F.col("_vals"), init, alpha_num, alpha_den).alias("s"),
        (F.coalesce(F.col("_pn"), F.lit(0)) + F.col("_n")).cast(
            "bigint"
        ).alias("n_points"),
    )


def make_ewma_batch_fn(
    work_dir: str,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha_num: int = 3,
    alpha_den: int = 10,
    scale: int = 2,
):
    """Per-micro-batch state-update callback (idempotent per-epoch
    overwrite)."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_keys = batch_df.filter(
            F.col(key_col).isNotNull()
        ).select(key_col).distinct().localCheckpoint(eager=False)
        prior = _read_latest_state(
            spark, work_dir, batch_id, key_col, only_keys=batch_keys
        )
        updated = ewma_update(
            batch_df, prior, key_col, order_col, value_col,
            alpha_num, alpha_den, scale,
        )
        updated.write.mode("overwrite").parquet(
            f"{work_dir}/ewma/batch_id={batch_id}"
        )

    return batch_fn


def read_ewma(
    spark: SparkSession, work_dir: str, key_col: str, scale: int = 2,
    key_type: str = "BIGINT",
) -> DataFrame:
    """The live per-key level: latest state descaled —
    ``(key, n_points, ewma)`` with ``ewma`` rounded to 6dp. Empty-but-
    valid before the first commit; ``key_type`` sets the key dtype of
    that empty frame (DDL type name, e.g. ``STRING``) so a stream keyed
    on a non-BIGINT column returns the SAME schema before and after the
    first commit — downstream unions/joins see one dtype."""
    latest = _read_latest_state(spark, work_dir, 2**62, key_col)
    if latest is None:
        return spark.createDataFrame(
            [], f"{key_col} {key_type}, n_points BIGINT, ewma DOUBLE"
        )
    mult = 10 ** int(scale)
    return latest.select(
        key_col,
        "n_points",
        F.round(F.col("s").cast("double") / F.lit(float(mult)), 6).alias(
            "ewma"
        ),
    )


def streaming_ewma(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha_num: int = 3,
    alpha_den: int = 10,
    scale: int = 2,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous per-key EWMA maintenance over a document/metric
    stream."""
    batch_fn = make_ewma_batch_fn(
        work_dir, key_col, order_col, value_col, alpha_num, alpha_den,
        scale,
    )
    return run_incremental(
        stream_df, batch_fn, f"{work_dir}/ckpt", available_now=available_now
    )


def compact_ewma_state(
    spark: SparkSession, work_dir: str, key_col: str, upto_batch: int
) -> tuple[int, int]:
    """Offline maintenance: fold every ``ewma/batch_id < upto_batch``
    delta snapshot into ONE latest-per-key partition named
    ``batch_id=<upto_batch - 1>`` (so later batches' ``batch_id < N``
    reads still cover it — the compact_claimed naming rule). MUST run
    while the stream is stopped, with ``upto_batch`` = last committed
    batch + 1 (a replayed batch overwrites its own dir; compacting an
    unsealed epoch would let the replay wipe merged history).

    Latest-wins is preserved exactly: the merged partition is the
    read's own latest-per-key fold over those epochs, and any LATER
    epoch still out-ranks it in the read's max_by. Replaced through
    ``promote.replace_epoch`` (orphaned backups of any earlier run are
    restored by ``list_epochs`` first). Returns
    ``(rows_before, rows_after)``."""
    state_dir = f"{work_dir}/ewma"
    epochs = [e for e in list_epochs(spark, state_dir) if e < upto_batch]
    if not epochs:
        return 0, 0
    rows_before = (
        read_state(spark, state_dir)
        .filter(F.col("batch_id").cast("bigint") < upto_batch)
        .count()
    )
    merged = _read_latest_state(
        spark, work_dir, upto_batch, key_col
    ).localCheckpoint(eager=True)
    rows_after = merged.count()
    replace_epoch(spark, state_dir, upto_batch - 1, merged)
    drop_epochs(spark, state_dir, [e for e in epochs if e != upto_batch - 1])
    return rows_before, rows_after
