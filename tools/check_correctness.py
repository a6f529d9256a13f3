"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 (or
$SPARK_GRAFT_SF_DIR — the SAME variable bench.py honors; the legacy
$SF_DIR alias still works with a warning) and compares with
oracle_sql() via DuckDB: row count, column-name set, and an
order-insensitive value comparison (columns sorted by name, rows
sorted, values normalized). Prints the resolved data dir up front and
one line per query + a summary.

    python tools/check_correctness.py [query ...] [--contraction off]

``--contraction off`` runs every driver-contraction family's distributed
loop (``operators/contraction.py`` ``forced_off``) — the oracle arm for
the path those operators take above their bounds. With no query names it
runs CONTRACTION_QUERIES: no other query reaches a probe, so their off
arm would repeat the default.
"""

from __future__ import annotations

import argparse
import contextlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.contraction import (
    forced_off,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark

from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    TESTDATA_TABLES as TABLES,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    resolve_sf_dir,
)

SF_DIR = resolve_sf_dir(default="/root/testdata/sf0.01")

# Every query that reaches an operators/contraction.py probe at sf0.01.
CONTRACTION_QUERIES = (
    "dedup_clusters", "dedup_clusters_star", "dedup_rate_report", "dedup_clusters_extended",
    "dedup_canonical_docs", "nation_communities", "nation_pagerank", "nation_trustrank",
    "community_modularity", "community_modularity_weighted", "community_conductance",
    "ann_ivf_trained_topk", "ann_ivfpq_residual_topk", "ann_ivfpq_topk", "ann_pq_topk",
    "kmeans_clusters", "pq_codebooks", "pq_codes", "prototype_pruned_docs", "semantic_dedup",
    "semantic_dedup_sweep", "langid_classifier_scores", "quality_calibration_report",
)


def norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and fp noise
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _duck_kind(typename: str) -> str:
    """Canonical type-kind for a DuckDB result column.

    HUGEINT (int128) is its own kind on purpose: Spark can never produce it,
    so a bare SUM(int) in a final DuckDB select (typed HUGEINT) must fail
    here the same way it fails the driver's type-aware hash — see the
    round-1 `event_type_pivot` red row.
    """
    t = typename.upper()
    if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return "hugeint"
    # width-aware integer kinds: the driver's hash is type-aware, so
    # DuckDB INTEGER vs Spark BIGINT must be caught locally, not just
    # the HUGEINT case (round-4; previously collapsed to one "int")
    if t in ("TINYINT",):
        return "int8"
    if t in ("SMALLINT", "UTINYINT"):
        return "int16"
    if t in ("INTEGER", "INT", "USMALLINT"):
        return "int32"
    if t in ("BIGINT", "UINTEGER"):
        return "int64"
    if t == "UBIGINT":
        return "uint64"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL") or t.startswith("NUMERIC"):
        return "decimal"
    if t in ("VARCHAR", "STRING", "TEXT", "CHAR", "BPCHAR"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.startswith("TIME"):  # TIME/TIMETZ: time-of-day, not an instant
        return "time"
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "list"
    if t.startswith("MAP"):
        return "map"
    if t.startswith("STRUCT") or t.startswith("ROW") or t.startswith("UNION"):
        return "struct"
    if t in ("BLOB", "BYTEA", "BINARY", "VARBINARY"):
        return "binary"
    return t.lower()


def _spark_kind(dtype: str) -> str:
    t = dtype.lower()
    if t in ("tinyint", "byte"):
        return "int8"
    if t in ("smallint", "short"):
        return "int16"
    if t in ("int", "integer"):
        return "int32"
    if t in ("bigint", "long"):
        return "int64"
    if t in ("float", "double"):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    if t in ("string", "varchar", "char"):
        return "str"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("array"):
        return "list"
    if t.startswith("map"):
        return "map"
    if t.startswith("struct"):
        return "struct"
    if t == "binary":
        return "binary"
    return t


def dtype_lint(spark_schema, duck_cols, duck_types):
    """Compare per-column type kinds; return list of mismatch messages.

    The driver's hash is type-aware, so a kind-level mismatch (most notably
    DuckDB HUGEINT vs Spark BIGINT) means local green would NOT predict a
    green driver row.

    Width-aware since round 4: integer kinds carry their width
    (int8/int16/int32/int64), so a DuckDB INTEGER vs Spark BIGINT
    mismatch fails locally instead of passing here and risking a red on
    the driver's type-aware hash. Fix mismatches at the source — CAST in
    the oracle SQL or .cast() in the Spark query — never by widening the
    lint.
    """
    spark_kinds = {f.name: _spark_kind(f.dataType.simpleString()) for f in spark_schema.fields}
    msgs = []
    for name, typ in zip(duck_cols, duck_types):
        typename = str(typ)
        if name not in spark_kinds:
            continue  # schema-set mismatch reported separately
        dk = _duck_kind(typename)
        sk = spark_kinds[name]
        if dk == "hugeint":
            msgs.append(
                f"dtype lint: oracle column `{name}` is {typename} (int128) — "
                f"wrap in CAST(... AS BIGINT)"
            )
        elif dk != sk:
            msgs.append(
                f"dtype lint: column `{name}` oracle={typename}({dk}) vs spark={sk}"
            )
    return msgs


def main(argv=None):
    ap = argparse.ArgumentParser(description="Contract queries vs the DuckDB oracle.")
    ap.add_argument("queries", nargs="*", help="query names (default: every query)")
    ap.add_argument(
        "--contraction",
        choices=("auto", "off"),
        default="auto",
        help="off: every driver-contraction family runs its distributed loop",
    )
    args = ap.parse_args(argv)
    print(f"driver contraction: {args.contraction}")
    off = args.contraction == "off"
    only = set(args.queries or (CONTRACTION_QUERIES if off else ()))
    with forced_off() if off else contextlib.nullcontext():
        return check(only)


def check(only):
    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            schema = df.schema
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS-ONLY" if len(rows) >= 0 else "?"
            print(f"{status} {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = list(rel.types)
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if len(rows) != len(orows):
            ok = False
            msgs.append(f"rowcount {len(rows)} vs oracle {len(orows)}")
        if sorted(cols) != sorted(ocols):
            ok = False
            msgs.append(f"schema {sorted(cols)} vs {sorted(ocols)}")
        lint = dtype_lint(schema, ocols, otypes)
        if lint:
            ok = False
            msgs.extend(lint)
        if ok:
            a, b = canon(rows, cols), canon(orows, ocols)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if ok:
            print(f"PASS {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {'; '.join(msgs)}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
