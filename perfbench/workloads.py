"""The benchmark's workloads: one client, closed loop, fixed work per pass.

A pass is a workload's fixed unit of work: a list of price_zone arrivals
ingested one after another into fresh work dirs, or one run through a
query list. Each op in a pass is timed on its own and checked against what
its inputs say it must produce. Checks that read a pass's output files run
after the pass; the query oracle checks run before the first pass. Neither
is timed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import arrivals as A

# A pass is two partial files and one full export, the export at a seeded
# position after the first file. The reference publishes no arrival mix or
# file shapes; these sizes keep a pass near 20 s (see README.md).
PZ = A.ArrivalSpec(
    files=3, full_files=1, rows_per_file=2000, clean_per_file=1,
    dirty_per_file=1, n_active_opcos=12, n_dirty_opcos=3,
)
CURATION_QUERIES = [
    "semantic_dedup",
    "multimodal_real_decode",
    "langid_classifier_scores",
    "kmeans_clusters",
    "nation_pagerank",
]
STREAM_PROGRESS = (
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.trigger_s", "streaming.query_start_s",
)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


@dataclass
class PassResult:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    in_rows: int = 0
    in_bytes: int = 0
    out_bytes: int = 0
    extra: dict = field(default_factory=dict)  # per-pass layer counters


def _log_failure(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_rows(path: str) -> int:
    """Rows in the parquet part files directly under ``path`` (0 if absent)."""
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _write_arrivals(arrs: list[A.Arrival], in_dir: str) -> list[str]:
    os.makedirs(in_dir, exist_ok=True)
    paths = []
    for a in arrs:
        p = os.path.join(in_dir, a.name)
        with open(p, "w", encoding="utf-8") as f:
            f.write(a.text)
        paths.append(p)
    return paths


# --- pz_ingest ---------------------------------------------------------------


def _outcome_ok(out, a: A.Arrival) -> bool:
    return (
        out.status == "SUCCEEDED"
        and (out.total_count, out.valid_count, out.invalid_count) == (a.total, a.valid, a.invalid)
        and sorted(map(str, out.invalid_opcos)) == a.invalid_opcos
        and sorted(out.loaded_opcos) == a.loaded_opcos
        and not out.failed_opcos
    )


class PzIngest:
    """Each arrival through both of the pipeline's entry points, one after
    the other: loaded by ``plans.orchestrate.run_pipeline`` into one shared
    work dir per pass (so the ledger and catalog grow over the pass), then
    moved into a watched dir and drained by
    ``plans.streaming_pipeline.run_price_zone_stream(available_now=True)``
    against one checkpoint per pass (one streaming run per file event).
    An op is one arrival through both; the traced run splits the two."""

    name = "pz_ingest"
    python_workers = False

    def __init__(self, seed: int, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.active = A.active_opcos(PZ)
        self.arrivals = A.generate(PZ, seed)
        # the cold op is a full export, so the timed passes never pay
        # first-use costs of the full-export path
        self.cold = [a for a in A.generate(PZ, seed + 1, prefix="cold") if a.file_type == "full"][:1]
        self.retries = 0
        self.progress = dict.fromkeys(STREAM_PROGRESS, 0.0)

    def _load(self, spark, a: A.Arrival, path: str, engine: str, tag: str) -> bool:
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.orchestrate import (
            RunConfig,
            run_pipeline,
        )

        cfg = RunConfig(
            input_path=path, work_dir=engine, active_opcos=self.active,
            file_name=a.name, etl_timestamp=tag, file_type=a.file_type,
        )
        try:
            out = run_pipeline(spark, cfg)
        except Exception:
            _log_failure(f"run_pipeline({a.name})")
            return False
        self.retries += sum(n - 1 for n in out.load_attempts.values())
        return _outcome_ok(out, a)

    def _drain(self, spark, a: A.Arrival, staged: str, watched: str, engine: str) -> bool:
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.streaming_pipeline import (
            run_price_zone_stream,
        )

        os.replace(staged, os.path.join(watched, a.name))  # the file arrives
        try:
            with self.tracer.span("streaming_pipeline.run_price_zone_stream") as rec:
                q, res = run_price_zone_stream(spark, watched, engine, self.active)
                self.tracer.claim_group(str(q.runId), rec)
                q.awaitTermination()
            self._record_progress(q, rec["end"] - rec["start"])
        except Exception:
            _log_failure(f"run_price_zone_stream({a.name})")
            return False
        return q.exception() is None and [(b["total"], b["valid"]) for b in res.batches] == [
            (a.total, a.valid)
        ]

    def _record_progress(self, q, call_s: float) -> None:
        trigger = 0.0
        for p in q.recentProgress:
            d = p.durationMs
            self.progress["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            self.progress["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            trigger += d.get("triggerExecution", 0) / 1e3
        self.progress["streaming.trigger_s"] += trigger
        self.progress["streaming.query_start_s"] += call_s - trigger

    def _ingest(self, spark, arrs: list[A.Arrival], d: str, tag: str) -> list[Op]:
        """Write ``arrs`` under ``d``, then run each through both paths."""
        paths = _write_arrivals(arrs, os.path.join(d, "in"))
        staged = _write_arrivals(arrs, os.path.join(d, "staged"))
        watched = os.path.join(d, "watched")
        os.makedirs(watched)
        ops = []
        for a, path, st in zip(arrs, paths, staged):
            t0 = time.perf_counter()
            ok = self._load(spark, a, path, os.path.join(d, "batch"), tag)
            ok = self._drain(spark, a, st, watched, os.path.join(d, "stream")) and ok
            ops.append(Op(a.name, time.perf_counter() - t0, ok))
        return ops

    def cold_op(self, spark) -> Op:
        (op,) = self._ingest(spark, self.cold, os.path.join(self.work, "cold"), "cold")
        return op

    def checks(self, spark) -> list[Op]:
        """Every pz check reads a pass's own outputs, so none runs before it."""
        return []

    def run_pass(self, spark, i: int) -> PassResult:
        d = os.path.join(self.work, f"pass{i}")
        self.retries = 0
        self.progress = dict.fromkeys(STREAM_PROGRESS, 0.0)
        res = PassResult()
        t0 = time.perf_counter()
        res.ops = self._ingest(spark, self.arrivals, d, f"pass{i}")
        res.wall_s = time.perf_counter() - t0
        res.in_rows = sum(a.total for a in self.arrivals)
        res.in_bytes = 2 * sum(len(a.text.encode()) for a in self.arrivals)  # read by both paths
        res.out_bytes = dir_bytes(os.path.join(d, "batch")) + dir_bytes(os.path.join(d, "stream"))
        res.extra.update(self.progress)
        res.extra["orchestrate.load_retries"] = self.retries
        res.extra["opcos_loaded"] = sum(len(a.loaded_opcos) for a in self.arrivals)
        bad = self._check_tables(os.path.join(d, "batch")) | self._check_clean(os.path.join(d, "stream"))
        for op, a in zip(res.ops, self.arrivals):
            if bad & set(a.loaded_opcos):
                op.ok = False
        shutil.rmtree(d, ignore_errors=True)
        return res

    def _check_tables(self, engine: str) -> set[str]:
        """Opcos whose ACTIVE or FUTURE row count, read from the catalog and
        table files, differs from the generator's."""
        want = A.expected_tables(self.arrivals)
        tables = os.path.join(engine, "tables")
        got: dict[str, dict[str, int]] = {"ACTIVE": {}, "FUTURE": {}}
        try:
            for row in pq.read_table(os.path.join(tables, "_catalog")).to_pylist():
                n = parquet_rows(os.path.join(tables, row["table_name"]))
                if n:
                    got[row["table_type"]][row["opco_id"]] = n
        except (OSError, KeyError, pa.ArrowException):
            _log_failure("versioned-table check")
        bad = {o for kind in want for o in set(want[kind]) | set(got[kind]) if want[kind].get(o) != got[kind].get(o)}
        if bad:
            print(f"[perfbench] versioned tables {got} differ from {want}", flush=True)
        return bad

    def _check_clean(self, engine: str) -> set[str]:
        """Opcos whose streamed clean rows differ from the generator's sum."""
        want: dict[str, int] = {}
        for a in self.arrivals:
            for o, n in a.rows_by_opco.items():
                want[o] = want.get(o, 0) + n
        clean = os.path.join(engine, "clean")
        got = {}
        if os.path.isdir(clean):
            for part in os.listdir(clean):
                if part.startswith("opco_id="):
                    got[part[len("opco_id="):]] = parquet_rows(os.path.join(clean, part))
        bad = {o for o in set(want) | set(got) if want.get(o) != got.get(o)}
        if bad:
            print(f"[perfbench] streamed clean rows {got} differ from {want}", flush=True)
        return bad


# --- curation_mix ------------------------------------------------------------


class CurationMix:
    """One pass = every query in CURATION_QUERIES, in a seeded order, each
    forced with the noop sink. The cold op collects the first query of
    CURATION_QUERIES, the same on every seed. After set-up, every query is
    collected (the cold op's rows are reused) and compared with its DuckDB
    oracle; that untimed pass also warms the session, so timed ops are warm."""

    name = "curation_mix"
    python_workers = True

    def __init__(self, seed: int, work: str, tracer):
        import random

        import qdata

        self.tracer = tracer
        self.data_dir = os.path.join(work, "data")
        self.rows = qdata.write(seed, self.data_dir)
        self.order = list(CURATION_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.collected: dict[str, tuple] = {}  # query -> (DataFrame, rows)
        self.checked: dict[str, bool] = {}

    def _collect(self, spark, name: str) -> tuple:
        import __spark_entry__ as entry

        df = entry.queries()[name](spark, self.data_dir)
        return df, [tuple(r) for r in df.collect()]

    def cold_op(self, spark) -> Op:
        name = CURATION_QUERIES[0]
        t0 = time.perf_counter()
        try:
            self.collected[name] = self._collect(spark, name)
            ok = True
        except Exception:
            _log_failure(f"cold collect({name})")
            ok = False
        return Op(name, time.perf_counter() - t0, ok)

    def checks(self, spark) -> list[Op]:
        """Collect each query and compare it with ``oracle_sql()`` on
        DuckDB, canonicalised as the project's correctness gate does."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import canon, dtype_lint

        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        ops = []
        for name in self.order:
            t0 = time.perf_counter()
            try:
                df, rows = self.collected.pop(name, None) or self._collect(spark, name)
                rel = con.sql(entry.oracle_sql()[name])
                ocols, orows = list(rel.columns), rel.fetchall()
                ok = (
                    sorted(df.columns) == sorted(ocols)
                    and not dtype_lint(df.schema, ocols, list(rel.types))
                    and canon(rows, df.columns) == canon(orows, ocols)
                )
                if not ok:
                    print(f"[perfbench] {name} differs from its oracle", flush=True)
            except Exception:
                _log_failure(f"check({name})")
                ok = False
            self.checked[name] = ok
            ops.append(Op(name, time.perf_counter() - t0, ok))
        con.close()
        return ops

    def _run(self, spark, name: str) -> None:
        import __spark_entry__ as entry

        with self.tracer.span("query.plan"):
            df = entry.queries()[name](spark, self.data_dir)
        with self.tracer.span("query.exec"):
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, i: int) -> PassResult:
        res = PassResult()
        t0 = time.perf_counter()
        for name in self.order:
            s = time.perf_counter()
            try:
                self._run(spark, name)
                ok = self.checked.get(name, False)
            except Exception:
                _log_failure(f"query {name}")
                ok = False
            res.ops.append(Op(name, time.perf_counter() - s, ok))
        res.wall_s = time.perf_counter() - t0
        return res


WORKLOADS = {w.name: w for w in (PzIngest, CurationMix)}
