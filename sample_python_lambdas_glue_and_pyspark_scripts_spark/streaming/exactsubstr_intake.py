"""Streaming ExactSubstr intake: rewrite each arriving document by
removing every >= L-token range whose content was SEEN before — in any
earlier micro-batch, or earlier within its own batch (the Lee et al.
2022 removal semantics, run continuously).

The batch operator (``operators/dedup.exactsubstr_rewrite``) dedups a
static corpus; the streaming form needs only ONE state table: the
distinct 120-bit L-gram anchor key pairs (``dedup._hash120_cols``;
flat g1/g2 bigints) of everything seen so far
(``anchors/batch_id=N/``). A batch window matching a historical anchor
is removed outright — history, by construction, holds the first
occurrence, so no positional history state is needed (contrast the
prefix intake, which must keep per-doc shingle arrays for its exact
verify). Within the batch, the full batch-local protection logic runs:
first sites of batch-duplicated windows are protected UNLESS the gram
is historical.

Semantics note (documented, pinned by test): the state accumulates the
anchors of the ORIGINAL batch text — everything SEEN, kept or removed —
so a future copy of content that was itself removed still dedups
against its first sighting. This is exactly "remove all but the first
occurrence" extended over time, and it keeps the state APPEND-ONLY per
epoch (replay-idempotent: per-batch overwrite dirs, reads filter
``batch_id < N`` — the minhash_dedup exactly-once layout).

Retraction caveat (the LSH ``corpus_fp`` story,
``streaming/state_retraction.py``): the anchor table is a distinct
content-fingerprint SET with no doc ids, so id-keyed retraction cannot
know whether a gram is still held by a surviving document — compliant
forgetting of the anchor state is an epoch rebuild from surviving
sources. The ``kept/`` output IS id-keyed and anti-joins normally.

Scale: per-batch cost is batch-anchor volume (map-side) + one keyed
count over batch grams + one join against the anchor state keyed on g —
at 100 TB bucket the persisted anchor table on ``g`` so the probe
co-locates; hot grams collapse in the count's map-side combiner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _exactsubstr_sites,
    _exactsubstr_tokens,
    _merge_intervals,
    _subtract_intervals,
)
from ..operators.text import WORD_REGEX
from ..operators.util import ensure_parallelism
from ..sources.promote import read_state
from .incremental import run_incremental

_ANCHOR_SCHEMA = "g1 BIGINT, g2 BIGINT, batch_id STRING"


def _read_anchors(
    spark: SparkSession, work_dir: str, before_batch: int
) -> DataFrame | None:
    """Distinct anchors from batches strictly before ``before_batch``;
    None when no state exists yet."""
    anchors = read_state(spark, f"{work_dir}/anchors")
    if anchors is None:
        return None
    # guard against a pre-120-bit state dir (single 'g BIGINT' column):
    # forcing the new schema onto it would read NULL g1/g2 and the
    # history semi join would silently match NOTHING — previously-seen
    # content would be re-admitted unrewritten. Fail loudly instead.
    found = set(anchors.columns)
    if "g" in found and "g1" not in found:
        raise ValueError(
            "exactsubstr_intake: legacy 60-bit anchor state at "
            f"{work_dir}/anchors (column 'g'); the 120-bit key pair "
            "(g1, g2) cannot be derived from it. Rebuild the anchor "
            "state by replaying the source epochs (the md5 inputs are "
            "not recoverable from the old hashes)."
        )
    if not {"g1", "g2"}.issubset(found):
        raise ValueError(
            "exactsubstr_intake: anchor state at "
            f"{work_dir}/anchors has columns {sorted(found)}; "
            "expected (g1, g2, batch_id)."
        )
    return (
        spark.read.schema(_ANCHOR_SCHEMA)
        .parquet(f"{work_dir}/anchors")
        .filter(F.col("batch_id").cast("bigint") < before_batch)
        .select("g1", "g2")
        .distinct()
    )


def exactsubstr_admit(
    docs: DataFrame,
    hist_anchors: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """One round of streaming ExactSubstr: returns ``(rewritten,
    new_anchors)``.

    ``rewritten`` is every input doc as ``(id_col, text_dedup,
    n_tokens, n_removed)`` — ranges duplicating a historical anchor or
    an earlier within-batch occurrence removed, first occurrences of
    batch-only duplicates protected. ``new_anchors`` is the batch's
    distinct gram set (original text — see module docstring), to append
    to the anchor state. With ``hist_anchors=None`` this EQUALS the
    batch operator ``dedup.exactsubstr_rewrite`` (pinned by test)."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("exactsubstr_admit: min_tokens must be >= 1")
    sites = _exactsubstr_sites(
        ensure_parallelism(docs), text_col, id_col, L
    ).localCheckpoint(eager=False)

    # the batch operator's no-flag-join identity (dedup.
    # exactsubstr_removals): with every first window contained in the
    # protection coverage, ALL dup windows ⊖ protection equals
    # non-first dup windows ⊖ protection — so removal is a semi join of
    # sites against the (batch-dup ∪ historical) anchor keys, and the
    # protection side reads the batch first sites straight off the
    # stats aggregate
    stats = (
        sites.groupBy("g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(id_col, "pos")).alias("first_site"),
        )
        .filter(F.col("c") >= 2)
        .localCheckpoint(eager=False)
    )
    protect_sites = stats.select(
        "g1", "g2",
        F.col(f"first_site.{id_col}").alias(id_col),
        F.col("first_site.pos").alias("pos"),
    )
    # removal sites: batch-dup anchors and the historical anchors probe
    # the sites SEPARATELY (two semi joins, each site-sized output) —
    # never union+distinct the corpus-sized anchor state into a batch
    # key set, which would shuffle the whole history per batch; the
    # hist probe stays a plain keyed join the persisted state can
    # co-locate by bucketing on (g1, g2)
    removal_sites = sites.join(
        stats.select("g1", "g2"), ["g1", "g2"], "left_semi"
    ).select(id_col, "pos")
    if hist_anchors is not None:
        removal_sites = removal_sites.unionByName(
            sites.join(hist_anchors, ["g1", "g2"], "left_semi").select(
                id_col, "pos"
            )
        )
        # a batch-first window whose gram is historical is NOT protected
        # (history holds the true first occurrence)
        protect_sites = protect_sites.join(
            hist_anchors, ["g1", "g2"], "left_anti"
        )
    protect_sites = protect_sites.select(id_col, "pos")

    removal = _merge_intervals(removal_sites.distinct(), id_col, L)
    protect = _merge_intervals(protect_sites, id_col, L)
    # interval-algebra subtraction (endpoint sweep — interval-sized
    # intermediate); only the final removed extents explode to
    # positions, for the token-level anti-join of the rewrite
    removed_pos = (
        _subtract_intervals(removal, protect, id_col)
        .select(
            id_col,
            F.explode(F.sequence("start", F.col("end") - 1)).alias("pos"),
        )
        .localCheckpoint(eager=False)
    )

    toks = _exactsubstr_tokens(docs, text_col, id_col)
    kept = toks.join(removed_pos, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text_dedup")
    )
    n_rem = removed_pos.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    base = docs.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                F.lit(WORD_REGEX),
                0,
            )
        ).cast("bigint").alias("n_tokens"),
    )
    rewritten = (
        base.join(rebuilt, id_col, "left")
        .join(n_rem, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
        )
    )
    new_anchors = sites.select("g1", "g2").distinct()
    return rewritten, new_anchors


def make_batch_fn(
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
):
    """The per-micro-batch rewrite callback (state first, output last —
    a crash between the two re-runs the batch and the state overwrite
    makes that a no-op)."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = _read_anchors(spark, work_dir, batch_id)
        rewritten, new_anchors = exactsubstr_admit(
            batch_df, hist, text_col, id_col, min_tokens
        )
        new_anchors.write.mode("overwrite").parquet(
            f"{work_dir}/anchors/batch_id={batch_id}"
        )
        rewritten.write.mode("overwrite").parquet(
            f"{work_dir}/kept/batch_id={batch_id}"
        )

    return batch_fn


def streaming_exactsubstr_dedup(
    stream_df: DataFrame,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous ExactSubstr rewriting: every arriving doc is written
    to ``kept/`` with all >= ``min_tokens``-token ranges duplicating
    previously-seen content removed (first occurrences survive, across
    batches and within each batch)."""
    batch_fn = make_batch_fn(work_dir, text_col, id_col, min_tokens)
    return run_incremental(
        stream_df, batch_fn, f"{work_dir}/ckpt", available_now=available_now
    )
