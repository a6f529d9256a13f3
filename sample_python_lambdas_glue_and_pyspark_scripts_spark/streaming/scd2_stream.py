"""Streaming SCD2 dimension maintenance — historized dimensions kept
current from a stream of update snapshots (§2.8 file-arrival semantics
composed with operators/scd2.py's Kimball type-2 merge).

Shape: a file-source stream of update rows drives ``foreachBatch``; each
micro-batch collapses to one row per key (latest by the effective
timestamp, struct-max so ties break deterministically), applies
``scd2_apply`` against the current dimension version, and writes the
NEW dimension as an immutable versioned directory ``v{batch_id}``.

Durability/replay contract (same discipline as the streaming MinHash
state store and the versioned catalog):
- a version is visible ONLY once its parquet ``_SUCCESS`` marker exists
  (a crash mid-write leaves an invisible partial dir that the replay
  overwrites);
- ``apply_batch`` is idempotent per batch_id: a replayed batch whose
  version already exists (or that is older than the newest version) is
  skipped, so Structured Streaming's redelivery of the last uncommitted
  batch never double-applies;
- old versions are pruned best-effort, always keeping the newest
  ``keep_versions`` (time travel across recent batches for free).

Scale: each batch costs one keyed shuffle of (current ∪ snapshot) — the
dimension is never collected; at 100 TB bucket the version table on the
key and the scd2 join is exchange-free on the dimension side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply
from ..sources.promote import hadoop_fs

_VER_RE = re.compile(r"^v(\d{8})$")


@dataclass
class Scd2DimStream:
    spark: SparkSession
    path: str
    keys: list[str]
    tracked_cols: list[str]
    ts_col: str = "effective_ts"
    keep_versions: int = 3

    # --- filesystem helpers ---------------------------------------------
    def _versions(self) -> list[int]:
        """Batch ids of COMPLETE versions (parquet _SUCCESS present)."""
        fs, Path = hadoop_fs(self.spark, self.path)
        root = Path(self.path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            m = _VER_RE.match(st.getPath().getName())
            if m and fs.exists(Path(f"{self.path}/v{m.group(1)}/_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _vdir(self, batch_id: int) -> str:
        return f"{self.path}/v{batch_id:08d}"

    # --- read side -------------------------------------------------------
    def current(self) -> DataFrame | None:
        """The newest complete dimension version (None before batch 0)."""
        vs = self._versions()
        if not vs:
            return None
        return self.spark.read.parquet(self._vdir(vs[-1]))

    def _empty_current(self, updates: DataFrame) -> DataFrame:
        # the validity columns must take ts_col's OWN type: scd2_apply
        # builds an array of structs mixing the dimension's valid_from
        # with the update's effective ts, and a bigint/timestamp mix
        # fails at plan time on the very first micro-batch
        ts_t = updates.schema[self.ts_col].dataType.simpleString()
        cols = [
            updates.schema[c].dataType.simpleString()
            for c in self.keys + self.tracked_cols
        ]
        names = self.keys + self.tracked_cols
        schema = ", ".join(
            [f"{n} {t}" for n, t in zip(names, cols)]
            + [f"valid_from {ts_t}", f"valid_to {ts_t}"]
        )
        return self.spark.createDataFrame([], schema)

    # --- write side ------------------------------------------------------
    def _collapse_snapshot(self, updates: DataFrame) -> DataFrame:
        """One row per key: latest by (ts, tracked...) struct-max —
        deterministic even when a batch carries several updates for the
        same key with equal timestamps."""
        packed = updates.groupBy(*self.keys).agg(
            F.max(
                F.struct(F.col(self.ts_col), *[F.col(c) for c in self.tracked_cols])
            ).alias("__m")
        )
        return packed.select(
            *self.keys,
            *[F.col(f"__m.{c}").alias(c) for c in self.tracked_cols],
            F.col(f"__m.{self.ts_col}").alias(self.ts_col),
        )

    def apply_batch(self, updates: DataFrame, batch_id: int) -> bool:
        """Apply one micro-batch; returns True if a new version was
        written, False if the batch was a replay no-op."""
        vs = self._versions()
        if vs and batch_id <= vs[-1]:
            return False  # replayed / superseded batch: already applied
        cur = self.current()
        if cur is None:
            cur = self._empty_current(updates)
        snap = self._collapse_snapshot(updates)
        new_dim = scd2_apply(
            cur, snap, keys=self.keys, tracked_cols=self.tracked_cols,
            ts_col=self.ts_col,
        )
        new_dim.write.mode("overwrite").parquet(self._vdir(batch_id))
        self._prune()
        return True

    def _prune(self) -> None:
        fs, Path = hadoop_fs(self.spark, self.path)
        vs = self._versions()
        for bid in vs[: max(0, len(vs) - self.keep_versions)]:
            try:
                fs.delete(Path(self._vdir(bid)), True)
            except Exception:
                pass  # best-effort: an undeleted old version is inert

    def batch_fn(self):
        """``foreachBatch`` adapter for streaming/incremental.run_incremental."""

        def fn(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, int(batch_id))

        return fn
