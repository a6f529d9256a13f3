"""Streaming EXACT-recall near-dup intake via the prefix-filter index.

The streaming sibling of ``operators.dedup.prefix_dedup_against_corpus``
and the exact-recall upgrade of ``streaming.minhash_dedup``: where the
LSH intake drops a doc on a bare BUCKET COLLISION (no similarity
verify — the documented aggressive bias), this intake VERIFIES every
candidate with the integer-exact Jaccard cut, so

- no false drops: a doc sharing one rare shingle with an admitted doc
  but below the threshold is ADMITTED (the LSH intake would drop it on
  the bucket), and
- no false admissions: every true match at J ≥ num/den is caught —
  completeness of the prefix filter holds under ANY fixed total order,
  and all batches (and the admitted history) compute prefixes under the
  SAME fixed order.

State under ``work_dir`` (the minhash_dedup per-epoch layout —
replay-idempotent by construction):

- ``dfreq/``                 the FIXED (shingle → df) order table,
                             written once by :func:`init_prefix_intake`
                             from a seed corpus (or absent: every
                             shingle rides the df-0 slot and the order
                             degenerates to lexicographic — still a
                             valid fixed total order, exactness intact).
- ``prefix/batch_id=N/``     admitted docs' prefix rows (doc_id, L, s).
- ``shingles/batch_id=N/``   admitted docs' distinct-shingle arrays
                             (for the exact verify of later batches).
- ``kept/batch_id=N/``       the admitted docs themselves.

Every write is mode=overwrite into the batch's OWN directory, and reads
filter to ``batch_id < N`` — a replayed micro-batch overwrites its own
previous attempt and never sees its own half-written state (the
minhash_dedup exactly-once contract).

Scale: per-batch cost is batch-prefix × claimed-prefix bucket probes
(rare-first buckets, integer size filter) + the verify on survivors;
the shingle-array state is O(admitted docs × doc shingles) — heavier
than the LSH claimed-buckets table, which is the price of exact verify;
bucket the persisted prefix table on ``s`` at scale so the probe
co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _hashed_shingles,
    _positional_bound,
    _prefix_rows,
)
from ..operators.util import ensure_parallelism
from ..sources.promote import read_state
from .incremental import run_incremental

_DFREQ_SCHEMA = "s BIGINT, sdf BIGINT"
_PREFIX_SCHEMA = "doc_id BIGINT, L INT, pos INT, s BIGINT, batch_id STRING"
_SHINGLE_SCHEMA = "doc_id BIGINT, shingles ARRAY<BIGINT>, batch_id STRING"


def init_prefix_intake(
    spark: SparkSession,
    work_dir: str,
    seed_corpus: DataFrame | None = None,
    text_col: str = "text",
    shingle_n: int = 3,
) -> None:
    """Fix the global (df, shingle) order from a seed corpus. Optional:
    without it, batches run with an empty dfreq (all df 0 — valid, just
    bucket-size-blind). Write-once: the order is an ARTIFACT (the IVF
    centroid convention) and must not drift between batches."""
    if seed_corpus is None:
        return
    sh = ensure_parallelism(seed_corpus).select(
        _hashed_shingles(text_col, shingle_n).alias("shingles")
    )
    (
        sh.select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .write.mode("overwrite")
        .parquet(f"{work_dir}/dfreq")
    )


def _read_dfreq(spark: SparkSession, work_dir: str) -> DataFrame:
    dfreq = read_state(spark, f"{work_dir}/dfreq", _DFREQ_SCHEMA)
    if dfreq is None:
        return spark.createDataFrame([], _DFREQ_SCHEMA)
    return dfreq


def _read_state(
    spark: SparkSession, work_dir: str, before_batch: int
) -> tuple[DataFrame, DataFrame] | None:
    """Claimed (prefix, shingles) from batches strictly before
    ``before_batch``; None only when no state exists yet. A broken
    state table propagates — treating it as empty would re-admit
    duplicates (the minhash_dedup _read_claimed contract).

    Existence is keyed on BOTH state dirs: make_batch_fn writes
    ``prefix/`` before ``shingles/``, so a crash in that window on the
    FIRST micro-batch leaves ``prefix/`` present and ``shingles/``
    absent. That half-written first epoch must read as "no state yet"
    (the replay's own overwrite heals it) — keying on ``prefix/`` alone
    made every replay fail on the missing shingles parquet instead.
    For any LATER batch both dirs already exist from the prior epoch,
    so a torn write there still propagates as a read error (correct:
    its claimed rows are genuinely required)."""
    pref = read_state(spark, f"{work_dir}/prefix", _PREFIX_SCHEMA)
    sh = read_state(spark, f"{work_dir}/shingles", _SHINGLE_SCHEMA)
    if pref is None or sh is None:
        return None
    before = F.col("batch_id").cast("bigint") < before_batch
    return (
        pref.filter(before).select("doc_id", "L", "pos", "s"),
        sh.filter(before).select("doc_id", "shingles"),
    )


def prefix_admit(
    docs: DataFrame,
    dfreq: DataFrame,
    claimed: tuple[DataFrame, DataFrame] | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One round of exact-recall admission: returns
    ``(kept_docs, new_prefix, new_shingles)``.

    History check: batch prefixes (under the fixed dfreq order) probe
    the claimed prefix table (+ integer size filter); survivors of the
    bucket probe are verified integer-exactly against the claimed
    shingle arrays — only TRUE matches at J ≥ num/den drop. Within the
    batch, one-pass greedy: a doc drops iff it has a VERIFIED pair with
    a smaller-id batch doc (the minhash_dedup one-pass ordering bias,
    now on verified pairs instead of bare buckets — documented, pinned
    by test)."""
    num, den = threshold_num, threshold_den
    if not (0 < num <= den):
        raise ValueError("prefix_admit: need 0 < num <= den")
    sh = ensure_parallelism(docs).select(
        F.col(id_col), _hashed_shingles(text_col, shingle_n).alias("shingles")
    )
    if materialize:
        sh = sh.localCheckpoint(eager=False)
    pref = _prefix_rows(sh, dfreq, num, den, id_col)
    if materialize:
        pref = pref.localCheckpoint(eager=False)

    def _verify(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
        """(a, b) pairs surviving the integer-exact Jaccard cut."""
        return (
            cand.join(
                sh_a.select(
                    F.col(id_col).alias("a"), F.col("shingles").alias("sh_a")
                ),
                "a",
            )
            .join(
                sh_b.select(
                    F.col(id_col).alias("b"), F.col("shingles").alias("sh_b")
                ),
                "b",
            )
            .select(
                "a",
                "b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
                (F.size("sh_a") + F.size("sh_b")).alias("n_ab"),
            )
            .filter(
                F.lit(den) * F.col("n_inter")
                >= F.lit(num) * (F.col("n_ab") - F.col("n_inter"))
            )
            .select("a", "b")
        )

    surv_pref, surv_sh = pref, sh
    if claimed is not None:
        hist_pref, hist_sh = claimed
        n, c = pref.alias("n"), hist_pref.alias("c")
        cand = (
            n.join(
                c,
                (F.col("n.s") == F.col("c.s"))
                & (F.lit(num) * F.col("n.L") <= F.lit(den) * F.col("c.L"))
                & (F.lit(num) * F.col("c.L") <= F.lit(den) * F.col("n.L"))
                & _positional_bound(num, den, "n", "c"),
            )
            .select(
                F.col(f"n.{id_col}").alias("a"),
                F.col(f"c.{id_col}").alias("b"),
            )
            .distinct()
        )
        hist_dup_ids = _verify(cand, sh, hist_sh).select(
            F.col("a").alias(id_col)
        ).distinct()
        surv_pref = pref.join(hist_dup_ids, id_col, "left_anti")
        surv_sh = sh.join(hist_dup_ids, id_col, "left_anti")
        if materialize:
            surv_pref = surv_pref.localCheckpoint(eager=False)
            surv_sh = surv_sh.localCheckpoint(eager=False)

    # within-batch: verified pairs among survivors, smaller id wins
    l, r = surv_pref.alias("l"), surv_pref.alias("r")
    in_cand = (
        l.join(
            r,
            (F.col("l.s") == F.col("r.s"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & (F.lit(num) * F.col("l.L") <= F.lit(den) * F.col("r.L"))
            & (F.lit(num) * F.col("r.L") <= F.lit(den) * F.col("l.L"))
            & _positional_bound(num, den, "l", "r"),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )
    in_dup_ids = _verify(in_cand, surv_sh, surv_sh).select(
        F.col("b").alias(id_col)
    ).distinct()
    kept_sh = surv_sh.join(in_dup_ids, id_col, "left_anti")
    if materialize:
        kept_sh = kept_sh.localCheckpoint(eager=False)
    kept_ids = kept_sh.select(id_col)
    new_prefix = surv_pref.join(kept_ids, id_col, "left_semi")
    kept_docs = docs.join(kept_ids, id_col, "left_semi")
    return kept_docs, new_prefix, kept_sh


def make_batch_fn(
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
):
    """The per-micro-batch exact-recall admission callback."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dfreq = _read_dfreq(spark, work_dir)
        claimed = _read_state(spark, work_dir, batch_id)
        kept, new_prefix, new_sh = prefix_admit(
            batch_df, dfreq, claimed, text_col, id_col,
            threshold_num, threshold_den, shingle_n,
        )
        # state first, output last (the curation-intake write order:
        # a crash between the two re-runs the batch, and the state
        # overwrite makes that a no-op)
        new_prefix.write.mode("overwrite").parquet(
            f"{work_dir}/prefix/batch_id={batch_id}"
        )
        new_sh.write.mode("overwrite").parquet(
            f"{work_dir}/shingles/batch_id={batch_id}"
        )
        kept.write.mode("overwrite").parquet(
            f"{work_dir}/kept/batch_id={batch_id}"
        )

    return batch_fn


def streaming_prefix_dedup(
    stream_df: DataFrame,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous exact-recall near-dup intake: admit each arriving doc
    iff it has NO verified Jaccard ≥ num/den match with (a) any doc
    admitted in an earlier batch, or (b) any SMALLER-ID doc of its own
    batch that survived the history check — whether or not that smaller
    doc is itself admitted. This is the one-pass greedy within-batch
    rule (see :func:`prefix_admit`): on a chain A~B, B~C, A!~C arriving
    together, C drops even though a strictly sequential intake would
    admit it after B dropped. Exactness (no false drops below the
    threshold, no missed true matches) holds; the bias is only in which
    member of a within-batch near-dup chain survives."""
    batch_fn = make_batch_fn(
        work_dir, text_col, id_col, threshold_num, threshold_den, shingle_n
    )
    return run_incremental(
        stream_df, batch_fn, f"{work_dir}/ckpt", available_now=available_now
    )
