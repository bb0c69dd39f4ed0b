"""Registry-wide physical-plan audit report.

`python -m data_lakehouse_platform_spark.plans.report [sf_dir]`
regenerates PLANS.md, and is its only generator: one row per registry
query with the scale-relevant plan properties (shuffle count, join
strategies, Python nodes, codegen spans, scan pushdown), all counted by
:func:`audit_plan`. This is the reviewable artifact behind the
".explain() every operator" discipline — plan regressions show up as
a diff here, not as a silent slowdown at deploy scale.
"""

from __future__ import annotations

import os
import sys


def plan_report(sf_dir: str) -> str:
    from pyspark.sql import SparkSession

    from data_lakehouse_platform_spark.plans import audit_plan
    from data_lakehouse_platform_spark.queries import all_queries

    # PINNED generator config (not the tuned engine factory): vanilla
    # local[8], shuffle.partitions=32, AQE disabled.  The audit is a
    # STATIC plan census — a different parallelism legitimately flips
    # join strategies, so cross-generation diffs are only meaningful
    # when every generation uses this exact session (the round-7
    # lesson, recorded in the verify skill).
    spark = (
        SparkSession.builder.appName("dlp-plan-report")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Generated against `{sf_dir}` by `python -m "
        "data_lakehouse_platform_spark.plans.report` on a vanilla "
        "local[8] session, shuffle.partitions=32, AQE disabled for the "
        "static audit (codegen spans and exchanges visible "
        "pre-execution; the engine runs with AQE on — generator config "
        "matters: a different parallelism can legitimately flip join "
        "strategies between generations). Every column is counted by "
        "`plans.explain.audit_plan` on the executed plan of the "
        "registry build: shuffles (hash/range/RR exchanges; "
        "SinglePartition exchanges excluded — they are audited by the "
        "contract line below), join strategy counts, Python-eval nodes "
        "(row-at-a-time / Arrow), whole-stage-codegen spans (distinct "
        "`*(n)` markers), scans with pushed filters. The last two also "
        "count the plans of persisted inputs that the executed plan "
        "prints under `InMemoryRelation`.",
        "",
        "Contract: no cartesian products; no row-at-a-time Python "
        "anywhere; broadcast joins on every dim side; single-partition "
        "exchanges only where a global top-N genuinely needs one.",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | cart | pyRow | arrow | codegen | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, q in sorted(all_queries().items()):
        # With AQE off the executed plan is fixed at planning time, so
        # the audit needs no execution of the query.
        a = audit_plan(q.build(spark, sf_dir))
        # a builder's persisted inputs must not turn up as cached scans
        # in a later query's plan
        spark.catalog.clearCache()
        lines.append(
            f"| `{name}` | {a.shuffles} | {a.broadcast_hash_joins} "
            f"| {a.sort_merge_joins} | {a.broadcast_nested_loop_joins} "
            f"| {a.cartesian_products} | {a.python_row_udfs} "
            f"| {a.arrow_python_nodes} | {a.whole_stage_codegen_spans} "
            f"| {len(a.pushed_filters)} |"
        )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    report = plan_report(sf_dir)
    out = os.path.join(os.path.dirname(__file__), "..", "..", "PLANS.md")
    with open(os.path.abspath(out), "w") as fh:
        fh.write(report)
    print(f"wrote PLANS.md ({report.count(chr(10))} lines)")
