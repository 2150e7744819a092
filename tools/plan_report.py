"""Dump the physical plan of every registered query to PLANS.md.

Usage: python tools/plan_report.py [sf_dir]  (default /root/testdata/sf0.001)

One section per query: the simple-mode physical plan plus a one-line
tally of scale-relevant operators (exchanges, broadcast/sort-merge joins,
whole-stage-codegen coverage).  Each query is planned inside its own
``gate_scope``: side-effecting entries (pipeline writes, streams) execute
their setup to reach their final read, and the scope undoes it.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_insurancelake_etl_spark.queries import all_queries, gate_scope  # noqa: E402
from aws_insurancelake_etl_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(
        app_name="plan-report",
        master="local[4]",
        shuffle_partitions=4,
        warehouse_dir=tempfile.mkdtemp(prefix="plan-report-wh-"),
        extra_confs={"spark.ui.enabled": "false"},
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    lines = [
        "# PLANS — physical plans of every registered query",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}`"
        " (simple explain mode, AQE initial plans).",
        "",
    ]
    for name, fn in sorted(all_queries().items()):
        lines.append(f"## {name}")
        try:
            with gate_scope(spark):
                plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as err:  # pragma: no cover - report, don't die
            lines.append(f"_plan unavailable: {err}_\n")
            continue
        tally = ", ".join(
            f"{label}={plan.count(token)}"
            for label, token in [
                ("exchanges", "Exchange"),
                ("broadcast_joins", "BroadcastHashJoin"),
                ("sortmerge_joins", "SortMergeJoin"),
                ("nested_loop", "BroadcastNestedLoopJoin"),
                ("codegen_spans", "WholeStageCodegen"),
            ]
            if plan.count(token)
        )
        lines.append(f"`{tally or 'narrow: no exchanges or joins'}`")
        lines.append("```")
        lines.append(plan.rstrip())
        lines.append("```")
        lines.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
