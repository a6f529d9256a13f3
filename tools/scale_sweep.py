"""The probe harness: re-time contract queries on an N×-replicated copy
of the data, under named arms, against an in-session 1× control.

    python tools/scale_sweep.py [scenario | query ...]   # default: top10

Names that are not SCENARIOS keys form one ad-hoc 16× scenario. SOLO run
required (a concurrent JVM inflates timings 1.3-3x). Prints one JSON
line; numbers land in BASELINE.md. The work dir is removed on any exit.

Fact tables are copied ``factor`` times with shifted ids (orders and
lineitem share the orderkey stride, so joins stay consistent); dims stay
1×, so per-entity groups grow too — the adversarial direction for
groupBy plans. Skew injection runs before replication, so its share
holds at 1× and N×. Linear scaling reads as ratio <= factor.

Each row holds t1/tN (best-of-``BENCH_BEST_OF``, bench.py's noop write
after its warmup), the build_s/exec_s split of the best attempt
(construction with its eager checkpoints and probes, vs the final
write) and the jobs that attempt launched (an exact count: no noise
bar). An arm is a SQL conf dict, ``contraction.forced_off`` or a
{query: Lever} map. Untimed 1× checks come first: an ``exact`` lever
must return the contract query's row set, any other arm the default
(first) arm's row count; an arm that fails is reported, not timed.
The guarded quadratic oracle mirrors are left out: util.guard_quadratic
refuses them at corpus scale.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import SF_DIR as BASE_SF, force, warmup
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    clustering,
    dedup as DD,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.contraction import (
    forced_off,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    TESTDATA_TABLES,
)
from tools.check_correctness import CONTRACTION_QUERIES

BEST_OF = max(1, int(os.environ.get("BENCH_BEST_OF", "2")))

# (id column to shift, shift stride) per fact table; dims are copied 1x.
FACT_SHIFTS = {
    "orders": [("o_orderkey", 1_000_000_000)],
    "lineitem": [("l_orderkey", 1_000_000_000)],
    "events": [("event_id", 1_000_000_000)],
    "documents": [("doc_id", 10_000_000)],
    "embeddings": [("vec_id", 10_000_000)],
}


class Lever(NamedTuple):
    """A named scale lever: ``fn(spark, sf_dir)`` replaces the contract
    query in its arm. ``exact`` levers must return the same row set."""

    fn: Callable[..., DataFrame]
    exact: bool = False


# The 64x levers: each restores linearity on one of the worst 16x ratios.
def _keepers(docs, groups):
    """Each exact-dedup group's keeper (its min doc_id) with its text."""
    return (
        docs.select("doc_id", "text", DD.fingerprint("text").alias("fp"))
        .join(groups.select("fp", "keep_id"), "fp")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text")
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def clusters_star_on(spark, sf_dir):
    """Exact dedup upstream: verbatim replicas collapse to their keeper
    before the MinHash graph is built, then inherit its cluster."""
    docs = _docs(spark, sf_dir)
    groups = DD.exact_dedup_groups(docs)
    keepers = _keepers(docs, groups)
    pairs = DD.minhash_dedup_pairs(keepers, threshold=0.2).select("a", "b")
    comp = clustering.connected_components_star(pairs)
    keeper_cluster = keepers.select("doc_id").join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        F.col("doc_id").alias("keep_id"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return (
        docs.select("doc_id", DD.fingerprint("text").alias("fp"))
        .join(groups.select("fp", "keep_id"), "fp")
        .join(keeper_cluster, "keep_id")
        .select("doc_id", "cluster_id")
    )


def quantiles_on(spark, sf_dir):
    """The sketch alone (price_quantiles_approx keeps the exact buffers
    for calibration too, and OOMed at 64x)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("q")
    )


def prefix_jaccard_on(spark, sf_dir):
    """Exact dedup upstream: verbatim copies are mutual J=1 pairs, so the
    exact join's output grows as replicas²; keepers return it to corpus
    shape."""
    docs = _docs(spark, sf_dir)
    return DD.prefix_filter_pairs(
        _keepers(docs, DD.exact_dedup_groups(docs)),
        threshold_num=1, threshold_den=2, shingle_n=3,
    )


def prefix_intake_on(spark, sf_dir):
    """Exact dedup upstream of both intake sides; admission expands back
    through the exact groups (J(copy, x) = J(keeper, x))."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.substring("source", 4, 10).cast("int") < 10)
    new = docs.filter(F.substring("source", 4, 10).cast("int") >= 10)
    ng = DD.exact_dedup_groups(new)
    index = DD.build_prefix_index(
        _keepers(corpus, DD.exact_dedup_groups(corpus)),
        threshold_num=1, threshold_den=2, shingle_n=3,
    )
    admitted = DD.prefix_dedup_against_corpus(
        _keepers(new, ng), index, threshold_num=1, threshold_den=2,
        shingle_n=3,
    ).select(F.col("doc_id").alias("keep_id"))
    return (
        new.select("doc_id", "source", DD.fingerprint("text").alias("fp"))
        .join(ng.select("fp", "keep_id"), "fp")
        .join(admitted, "keep_id", "left_semi")
        .select("doc_id", "source")
    )


def banding_report_on(spark, sf_dir):
    """Exact dedup upstream + weighted advisor: keeper pairs weighted by
    n_docs(a)·n_docs(b), plus one j=1 row of weight C(n,2) per exact
    group, reproduce the raw-pair advisor at keeper-pair cost."""
    docs = _docs(spark, sf_dir)
    groups = DD.exact_dedup_groups(docs)
    kp = DD.prefix_filter_pairs(
        _keepers(docs, groups), threshold_num=1, threshold_den=2, shingle_n=3
    )

    def size(side):
        return groups.select(
            F.col("keep_id").alias(side), F.col("n_docs").alias(f"n{side}")
        )

    weighted = kp.join(size("a"), "a").join(size("b"), "b").select(
        "jaccard", (F.col("na") * F.col("nb")).alias("w")
    )
    n = F.col("n_docs")
    intra = groups.filter(n >= 2).select(
        F.lit(1.0).alias("jaccard"),
        (n * (n - 1) / F.lit(2)).cast("bigint").alias("w"),
    )
    return DD.lsh_banding_plan(
        weighted.unionByName(intra), num_hashes=16, weight_col="w"
    )


LEVERS = {
    "dedup_clusters_star": Lever(clusters_star_on, exact=True),
    "lsh_banding_report": Lever(banding_report_on, exact=True),
    "bigram_logprob": Lever(entrymod.q_bigram_logprob_pruned),
    "price_quantiles": Lever(quantiles_on),
    "prefix_jaccard_pairs": Lever(prefix_jaccard_on),
    "prefix_intake_admitted": Lever(prefix_intake_on, exact=True),
}

# Each scenario: factor, (table, key, hot share) injections, contract
# queries, arms (first = default), and {(query, arm): why} not run at N×.
SCENARIOS = {
    # the ten most expensive r5 bench queries, quadratic mirrors excluded
    "top10": {"factor": 16, "queries": [
        "pca_top2_projections", "dedup_clusters_star", "approx_aggregates",
        "price_quantiles", "pca_component", "corpus_curation",
        "kmeans_clusters", "language_id", "multi_distinct", "bigram_logprob",
    ]},
    "curation": {"factor": 16, "queries": [
        "decontaminated_docs", "repetition_stats", "unigram_logprob",
        "gopher_quality_flags", "span_dedup", "containment_pairs",
        "minhash_estimate_report", "curation_cascade_census",
    ]},
    "models": {"factor": 16, "queries": [
        "dsir_selected_docs", "langid_classifier_scores", "ccnet_buckets",
        "pca_component", "semantic_dedup",
    ]},
    "ops": {"factor": 16, "queries": [
        "orders_profile", "orders_profile_hll", "orders_numeric_profile",
        "price_histogram", "scd2_orders", "events_resampled", "bm25_search",
        "edit_near_dup", "skyline_parts", "skyline_brand_fronts",
        "ann_topk_vectorized", "ann_ivf_topk",
    ]},
    "skew": {
        "factor": 16,
        "inject": [("events", "user_id", 0.6), ("documents", "source", 0.6)],
        "queries": ["events_key_skew", "events_hot_join", "per_source_caps"],
        "arms": {
            "default": {},
            "no_skew_join": {"spark.sql.adaptive.skewJoin.enabled": "false"},
            "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        },
        # clicks x purchases per user, with one user holding 60% of both
        "unscaled": {("events_hot_join", a): "answer is quadratic in the hot "
                     "key: ~1.4e8 rows at 1x, 256x that at 16x"
                     for a in ("default", "no_skew_join", "no_broadcast")},
    },
    "levers": {
        "factor": 64,
        "queries": list(LEVERS),
        "arms": {"off": {}, "on": LEVERS},
        # Both off arms join the raw verbatim-replica pairs (output-quadratic).
        "unscaled": {("lsh_banding_report", "off"): "overflowed local shuffle disk at 64x",
                     ("prefix_jaccard_pairs", "off"): "ran >15 min on 4 cores at 64x, "
                     "filling ~10 GB of local shuffle disk"},
    },
    # every query that reaches a driver-contraction probe, on its
    # distributed loop vs the default branch
    "loops_off": {
        "factor": 16,
        "queries": list(CONTRACTION_QUERIES),
        "arms": {"default": {}, "forced_off": forced_off},
    },
}


def replicate(df: DataFrame, table: str, factor: int) -> DataFrame:
    """``factor`` copies of a fact table with shifted ids; dims as-is."""
    if table not in FACT_SHIFTS or factor == 1:
        return df
    return functools.reduce(DataFrame.unionByName, [
        df.withColumns({c: F.col(c) + F.lit(i * s) for c, s in FACT_SHIFTS[table]})
        for i in range(factor)
    ])


def inject_skew(df: DataFrame, col: str, share: float, order_col: str) -> DataFrame:
    """Rewrite ``col`` so exactly round(share·rows) rows hold its most
    common value (rows that already hold it count first, so ``share``
    must be at least that value's current share)."""
    hot = (
        df.filter(F.col(col).isNotNull()).groupBy(col).count()
        .orderBy(F.desc("count"), col).first()[0]
    )
    k = round(share * df.count())
    is_hot = F.coalesce(F.col(col) == F.lit(hot), F.lit(False))
    rank = F.row_number().over(
        Window.orderBy(is_hot.desc(), F.xxhash64(order_col), order_col)
    )
    hot_val = F.lit(hot).cast(df.schema[col].dataType)
    return df.withColumn(col, F.when(rank <= k, hot_val).otherwise(F.col(col)))


def build(spark, src: str, dst: str, factor: int, inject=()) -> str:
    """Write every table of ``src`` to ``dst``: injected, then replicated."""
    hot = {t: (c, share) for t, c, share in inject}
    for t in TESTDATA_TABLES:
        path = f"{src}/{t}.parquet"
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if t in hot:
            df = inject_skew(df, *hot[t], FACT_SHIFTS[t][0][0])
        df = replicate(df, t, factor)
        if factor > 1 and t in FACT_SHIFTS:
            df = df.repartition(32)
        df.write.parquet(f"{dst}/{t}.parquet")
    return dst


def timed(spark, fn, sf_dir: str, group: str, factor: int) -> dict:
    """Best-of-BEST_OF ``force(fn(spark, sf_dir))``: total, build/exec
    split and job count of the best attempt."""
    sc = spark.sparkContext
    best = None
    for i in range(BEST_OF):
        gid = f"{group}#{i}"
        sc.setJobGroup(gid, gid)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            force(df)
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
        if best is None or t2 - t0 < best[0]:
            best = (t2 - t0, t1 - t0, t2 - t1, jobs)
    keys = (f"t{factor}", f"build_s{factor}", f"exec_s{factor}", f"jobs{factor}")
    return dict(zip(keys, [round(v, 2) for v in best[:3]] + [best[3]]))


def _is_lever_arm(arm) -> bool:
    return isinstance(arm, dict) and any(isinstance(v, Lever) for v in arm.values())


def _lever(arm, name: str):
    return arm.get(name) if _is_lever_arm(arm) else None


@contextlib.contextmanager
def arm_context(spark, arm):
    if arm is forced_off:
        with forced_off():
            yield
        return
    confs = {} if _is_lever_arm(arm) else arm
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def run_arm(spark, name, query, arm, dirs, group, default_rows=None, unscaled=None):
    """One arm of one query: its untimed 1× check, then t1 and tN.
    ``dirs`` maps factor -> data dir (1 first); ``default_rows`` is the
    default arm's 1× row count (None: no count check)."""
    lever = _lever(arm, name)
    fn = lever.fn if lever else query
    row: dict = {}
    with arm_context(spark, arm):
        if lever is not None and lever.exact:
            want = {tuple(r) for r in query(spark, dirs[1]).collect()}
            row["equal_at_1x"] = want == {tuple(r) for r in fn(spark, dirs[1]).collect()}
            if not row["equal_at_1x"]:
                return row
        elif lever is None and default_rows is not None:
            row["rows_1x"] = fn(spark, dirs[1]).count()
            row["rows_match"] = row["rows_1x"] == default_rows
            if not row["rows_match"]:
                return row
        for factor, d in dirs.items():
            if factor > 1 and unscaled:
                row["unscaled"] = unscaled
                continue
            row.update(timed(spark, fn, d, f"{group}/x{factor}", factor))
    n = max(dirs)
    if f"t{n}" in row:
        row["ratio"] = round(row[f"t{n}"] / max(row["t1"], 1e-9), 1)
    return row


def run_scenario(spark, name: str, sc: dict, dirs: dict) -> dict:
    qs = entrymod.queries()
    arms = sc.get("arms", {"default": {}})
    count_check = any(not _is_lever_arm(a) for a in list(arms.values())[1:])
    out: dict = {}
    for q in sc["queries"]:
        if q not in qs:
            out[q] = {"error": "unknown query"}
            continue
        out[q], default_rows = {}, None
        for i, (arm_name, arm) in enumerate(arms.items()):
            try:
                row = run_arm(
                    spark, q, qs[q], arm, dirs, f"{name}/{q}/{arm_name}",
                    default_rows, sc.get("unscaled", {}).get((q, arm_name)),
                )
                if i == 0 and count_check:
                    default_rows = row["rows_1x"] = qs[q](spark, dirs[1]).count()
            except Exception as exc:  # noqa: BLE001 — isolate per query
                row = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            out[q][arm_name] = row
            print(f"SWEEP {name} {q} {arm_name}: {row}", file=sys.stderr, flush=True)
    return out


def main(argv=None) -> None:
    args = sys.argv[1:] if argv is None else argv
    plan = {a: SCENARIOS[a] for a in (args or ["top10"]) if a in SCENARIOS}
    adhoc = [a for a in args if a not in SCENARIOS]
    if adhoc:
        plan["adhoc"] = {"factor": 16, "queries": adhoc}
    work = tempfile.mkdtemp(prefix="scale_sweep_")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out: dict = {"sf_dir": BASE_SF, "best_of": BEST_OF, "scenarios": {}}
    try:
        spark = get_spark(app_name="scale-sweep")
        warmup(spark, BASE_SF)
        built = {(1, ()): BASE_SF}
        for name, sc in plan.items():
            t0 = time.perf_counter()
            res: dict = {"factor": sc["factor"]}
            try:
                inject = tuple(sc.get("inject", ()))
                for factor in (1, sc["factor"]):
                    if (factor, inject) not in built:
                        d = f"{work}/d{len(built)}"
                        warmup(spark, build(spark, BASE_SF, d, factor, inject))
                        built[factor, inject] = d
                dirs = {f: built[f, inject] for f in (1, sc["factor"])}
                res["queries"] = run_scenario(spark, name, sc, dirs)
            except Exception as exc:  # noqa: BLE001 — isolate per scenario
                res["error"] = f"{type(exc).__name__}: {exc}"[:300]
            res["wall_s"] = round(time.perf_counter() - t0, 1)
            out["scenarios"][name] = res
    finally:
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(out))  # the finished scenarios, on any exit


if __name__ == "__main__":
    main()
