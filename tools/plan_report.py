"""Generate PLANS.md: physical-plan properties for every bench query.

For each headline query this records what the scale posture claims:
join strategies (broadcast vs sort-merge), filter pushdown into the
parquet scan, read-schema pruning, exchange (shuffle) count, and
whole-stage-codegen coverage. Run after plan-affecting changes:

    python tools/plan_report.py        # writes PLANS.md at repo root
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES, SF_DIR  # the dir bench.py times
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark


def analyze(df, spark) -> dict:
    """Audit the statically-planned physical plan (pre-AQE).

    AQE may further improve these plans at runtime (coalesced exchanges,
    skew splits, sort-merge→broadcast conversions); what is audited here
    is the plan Catalyst commits to before execution, which upper-bounds
    the shuffle count. 'shuffles' counts hash/range repartition exchanges
    only (broadcast and reused exchanges are not data shuffles).
    """
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.bucketing import (
        count_exchanges,
    )

    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    fmt_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    formatted = qe.explainString(fmt_mode)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    shuffles = count_exchanges(df)
    return {
        "broadcast_joins": executed.count("BroadcastHashJoin"),
        "sortmerge_joins": executed.count("SortMergeJoin"),
        "shuffled_hash_joins": executed.count("ShuffledHashJoin"),
        "exchanges": shuffles,
        "scans": formatted.count("Location:"),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "python_udf": executed.count("ArrowEvalPython")
        + executed.count("BatchEvalPython")
        + executed.count("MapInPandas")
        + executed.count("FlatMapGroupsInPandas"),
    }


def main() -> None:
    spark = get_spark(app_name="plan-report")
    qs = entrymod.queries()
    lines = [
        "# PLANS — physical-plan audit of the bench queries",
        "",
        f"Generated by `tools/plan_report.py` at `{SF_DIR}`. Columns: join",
        "strategies in the statically-planned physical plan (AQE may improve",
        "them further at runtime), data-shuffle exchange count (broadcast and",
        "reused exchanges excluded), parquet scan count, scans with non-empty",
        "PushedFilters, and Python-eval operators (0 = fully JVM-side).",
        "",
        "| query | broadcast | sortmerge | shuffles | scans | pushed | python |",
        "|---|---|---|---|---|---|---|",
    ]
    # bench queries first (the headline set), then every remaining
    # contract query alphabetically — the full operator surface is audited
    names = [n for n in BENCH_QUERIES if n in qs]
    names += sorted(n for n in qs if n not in names)
    for name in names:
        try:
            a = analyze(qs[name](spark, SF_DIR), spark)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            err = f"{type(exc).__name__}: {exc}".splitlines()[0][:200]
            print(f"PLAN-ERROR {name}: {err}", file=sys.stderr)
            lines.append(f"| {name} | error: {err.replace('|', '/')} | | | | | |")
            continue
        lines.append(
            f"| {name} | {a['broadcast_joins']} | {a['sortmerge_joins']} | "
            f"{a['exchanges']} | {a['scans']} | {a['pushed_filters']} | "
            f"{a['python_udf']} |"
        )
    lines += [
        "",
        "Reading guide: dimension joins should be broadcast (no shuffle of the",
        "fact side); `pushed` > 0 on filtered scans confirms predicate pushdown",
        "reached parquet; `python` is non-zero only for the multimodal",
        "mapInPandas operators — everything else stays in whole-stage codegen.",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
