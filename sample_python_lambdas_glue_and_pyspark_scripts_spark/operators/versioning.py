"""ACTIVE/FUTURE versioned-load planner + runtime (SURVEY.md §2.8, §7.1 M4).

The reference maintains two versions of each per-opco target table —
ACTIVE (serving) and FUTURE (being built by a full export) — in a
PRICE_ZONE_MASTER_DATA catalog, and decides per load which tables to
write (/root/reference/src/price_zone/load_job.py:304-368):

Partial load:
  1. always load ACTIVE;
  2. FUTURE empty  → also load FUTURE iff a full export is in flight AND
     this opco is in its RECEIVED_OPCOS (load_job.py:326-344);
  3. FUTURE non-empty → also load FUTURE (load_job.py:346-350).
Full export:
  4. FUTURE empty → load FUTURE, record min(EFFECTIVE_DATE) in the
     catalog (load_job.py:355-366);
  5. FUTURE non-empty → soft-validation knob (load_job.py:285-301):
     0=FAIL raise, 1=SKIP load, 2=FORCE load FUTURE (no date update).

``plan_load`` is the pure decision function; ``VersionedCatalog`` is the
engine runtime: a parquet-backed catalog + per-version parquet tables,
with a swap operation promoting FUTURE → ACTIVE after a full export.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.promote import hadoop_fs, read_state


class ValidationPolicy(int, Enum):
    """O4: the reference's 0/1/2 knob (load_job.py:285-301)."""

    FAIL = 0
    SKIP = 1
    FORCE = 2


class ETLLoadError(RuntimeError):
    """Reference: ETLLoadJobException (load_job.py:292)."""


@dataclass(frozen=True)
class LoadDecision:
    write_active: bool
    write_future: bool
    record_effective_date: bool
    proceed: bool
    reason: str


def plan_load(
    *,
    is_partial: bool,
    future_empty: bool,
    full_export_running: bool = False,
    opco_in_running_export: bool = False,
    policy: ValidationPolicy = ValidationPolicy.FAIL,
) -> LoadDecision:
    """The exact decision tree of find_tables_to_load (load_job.py:304-368)."""
    if is_partial:
        if future_empty:
            dual = full_export_running and opco_in_running_export
            return LoadDecision(
                write_active=True,
                write_future=dual,
                record_effective_date=False,
                proceed=True,
                reason="partial → ACTIVE"
                + (" + FUTURE (full export in flight for opco)" if dual else ""),
            )
        return LoadDecision(
            write_active=True,
            write_future=True,
            record_effective_date=False,
            proceed=True,
            reason="partial → ACTIVE + FUTURE (future table non-empty)",
        )
    # full export
    if future_empty:
        return LoadDecision(
            write_active=False,
            write_future=True,
            record_effective_date=True,
            proceed=True,
            reason="full export → FUTURE + effective-date catalog update",
        )
    if policy == ValidationPolicy.FAIL:
        raise ETLLoadError("full load and future table is not empty")
    if policy == ValidationPolicy.SKIP:
        return LoadDecision(
            write_active=False,
            write_future=False,
            record_effective_date=False,
            proceed=True,
            reason="full export, FUTURE non-empty → skipped (policy=SKIP)",
        )
    return LoadDecision(
        write_active=False,
        write_future=True,
        record_effective_date=False,
        proceed=True,
        reason="full export, FUTURE non-empty → forced (policy=FORCE)",
    )


@dataclass
class LoadResult:
    decision: LoadDecision
    rows_written_active: int
    rows_written_future: int
    effective_date: str | None


class VersionedCatalog:
    """Parquet-backed ACTIVE/FUTURE catalog + table runtime.

    Layout: ``root/_catalog`` (parquet: opco_id, table_type, table_name,
    effective_date) and ``root/<table_name>/`` parquet data dirs. Data
    writes append; the catalog is rewritten atomically per update (small —
    one row per opco x version, bounded like the reference's master-data
    table).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog_path = f"{self.root}/_catalog"

    # --- catalog ---------------------------------------------------------
    def init_opco(self, opco: str) -> None:
        rows = [
            (opco, "ACTIVE", f"price_zone_{opco}_a", None),
            (opco, "FUTURE", f"price_zone_{opco}_b", None),
        ]
        df = self.spark.createDataFrame(
            rows, "opco_id string, table_type string, table_name string, effective_date string"
        )
        existing = self._read_catalog()
        if existing is not None:
            df = existing.filter(F.col("opco_id") != opco).unionByName(df)
        self._write_catalog(df)

    def init_opco_if_absent(self, opco: str) -> None:
        cat = self._read_catalog()
        if cat is not None and cat.filter(F.col("opco_id") == opco).limit(1).count():
            return
        self.init_opco(opco)

    def _read_catalog(self) -> DataFrame | None:
        # recover a crashed swap BEFORE reading, and never read a broken
        # catalog as absent: either way the next write would rebuild it
        # without every other opco's ACTIVE/FUTURE rows
        try:
            return read_state(self.spark, self.catalog_path)
        except Exception as e:
            raise ETLLoadError(
                f"catalog at {self.catalog_path} is unreadable: {e}"
            ) from e

    def _write_catalog(self, df: DataFrame) -> None:
        # write-then-rename swap via the shared checked-rename helper
        # (sources/promote.py): the live path is only ever a complete
        # catalog, the old catalog survives as backup until the new one
        # is promoted, and a crash between the renames is recovered on
        # the next write (the engine is single-writer, SURVEY §4.3)
        from ..sources.promote import promote_swap

        promote_swap(
            self.spark,
            self.catalog_path,
            lambda tmp: df.coalesce(1).write.mode("overwrite").parquet(tmp),
            error_cls=ETLLoadError,
        )

    def table_name(self, opco: str, table_type: str) -> str:
        cat = self._read_catalog()
        assert cat is not None, "catalog not initialized"
        rows = cat.filter(
            (F.col("opco_id") == opco) & (F.col("table_type") == table_type)
        ).collect()
        if not rows:
            raise ETLLoadError(f"no {table_type} table registered for opco {opco}")
        return rows[0]["table_name"]

    def table_path(self, table_name: str) -> str:
        return f"{self.root}/{table_name}"

    def table_is_empty(self, table_name: str) -> bool:
        """check_table_is_empty (load_job.py:193): LIMIT-1 probe."""
        df = read_state(self.spark, self.table_path(table_name))
        return df is None or len(df.limit(1).collect()) == 0

    # --- load ------------------------------------------------------------
    def load_opco(
        self,
        df: DataFrame,
        opco: str,
        *,
        is_partial: bool,
        running_export_opcos: set[str] | None = None,
        policy: ValidationPolicy = ValidationPolicy.FAIL,
        effective_date_col: str = "effective_date",
    ) -> LoadResult:
        """The per-opco load of find_tables_to_load, on parquet tables."""
        active = self.table_name(opco, "ACTIVE")
        future = self.table_name(opco, "FUTURE")
        running = running_export_opcos or set()
        decision = plan_load(
            is_partial=is_partial,
            future_empty=self.table_is_empty(future),
            full_export_running=bool(running),
            opco_in_running_export=opco in running,
            policy=policy,
        )
        n_active = n_future = 0
        eff: str | None = None
        n_rows: int | None = None
        if decision.write_active or decision.write_future:
            # count once up front: re-counting after each write would
            # re-evaluate the plan per table (and could diverge from what
            # was written if the upstream plan is non-deterministic)
            n_rows = df.count()
        if decision.write_active:
            df.write.mode("append").parquet(self.table_path(active))
            n_active = n_rows
        if decision.write_future:
            df.write.mode("append").parquet(self.table_path(future))
            n_future = n_rows
        if decision.record_effective_date:
            # min(EFFECTIVE_DATE) of the freshly-built FUTURE table
            # (load_job.py:238,361-363)
            row = (
                self.spark.read.parquet(self.table_path(future))
                .agg(F.date_format(F.min(effective_date_col), "yyyy-MM-dd HH:mm:ss"))
                .collect()[0]
            )
            eff = row[0]
            cat = self._read_catalog()
            updated = cat.withColumn(
                "effective_date",
                F.when(
                    (F.col("opco_id") == opco) & (F.col("table_type") == "FUTURE"),
                    F.lit(eff),
                ).otherwise(F.col("effective_date")),
            )
            self._write_catalog(updated)
        return LoadResult(decision, n_active, n_future, eff)

    # --- swap ------------------------------------------------------------
    def swap_active_future(self, opco: str) -> None:
        """Promote FUTURE → ACTIVE after a completed full export: the
        catalog pointers swap atomically (names, not data, move) and the
        new FUTURE (old ACTIVE) is truncated for the next export cycle."""
        cat = self._read_catalog()
        old_active = self.table_name(opco, "ACTIVE")
        swapped = cat.withColumn(
            "table_type",
            F.when(
                F.col("opco_id") == opco,
                F.when(F.col("table_type") == "ACTIVE", "FUTURE").otherwise("ACTIVE"),
            ).otherwise(F.col("table_type")),
        )
        self._write_catalog(swapped)
        # truncate the demoted table (now FUTURE) for the next cycle
        path = self.table_path(old_active)
        fs, hpath = hadoop_fs(self.spark, path)
        fs.delete(hpath(path), True)
