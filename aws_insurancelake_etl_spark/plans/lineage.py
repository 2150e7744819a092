"""Data lineage event log.

The reference logs one DynamoDB item per pipeline operation — ordered
sequence number, dataset, operation name, spec JSON, row/column counts, and a
``numericaudit`` control-total event summing every numeric column
(``lib/glue_scripts/lib/datalineage.py:60-89,135-145``).  Here the same
events append to a local JSONL file (or stay in memory), i.e. an ordinary
lake table a cluster deployment would write as Parquet/Delta.

The numeric audit is a row count plus a sum of every numeric column.
Where the pipeline runs an action over the audited frame anyway, the
audit's aggregates ride it (the cleanse write through ``df.observe``, the
consume stage's DQ aggregate).  :meth:`LineageLog.numeric_audit` runs them
as one ``df.agg`` where no such action exists (the read audit, whose row
count is also the empty-input check).
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class LineageLog:
    def __init__(
        self,
        execution_id: str = "local-run",
        dataset: str = "",
        path: str | None = None,
    ) -> None:
        self.execution_id = execution_id
        self.dataset = dataset
        self.path = path
        self.seq = 0
        self.events: list[dict[str, Any]] = []

    def update(self, operation: str, df: DataFrame | None = None, **info: Any) -> None:
        self.seq += 1
        event: dict[str, Any] = {
            "execution_id": self.execution_id,
            "dataset": self.dataset,
            "seq": self.seq,
            "operation": operation,
            "time": time.time(),
            **info,
        }
        if df is not None:
            event["column_count"] = len(df.columns)
        self.events.append(event)
        if self.path:
            with open(self.path, "a", encoding="utf-8") as handle:
                handle.write(json.dumps(event, default=str) + "\n")

    def numeric_audit_exprs(self, df: DataFrame) -> dict[str, Column]:
        """The audit's aggregates over ``df``, by name: its row count and
        the sum of every numeric column.  Fold them into an aggregate that
        runs anyway, then log its result row with :meth:`log_numeric_audit`."""
        return {
            "__audit_rows": F.count(F.lit(1)),
            **{f"__audit_sum_{i}": F.sum(F.col(c)) for i, c in enumerate(_numeric_columns(df))},
        }

    def log_numeric_audit(
        self, df: DataFrame, row, operation: str = "numericaudit"
    ) -> dict[str, Any]:
        """Log the ``numericaudit`` event from a row holding the values of
        :meth:`numeric_audit_exprs`."""
        totals = {c: row[f"__audit_sum_{i}"] for i, c in enumerate(_numeric_columns(df))}
        self.update(operation, df=df, row_count=row["__audit_rows"], column_sums=totals)
        return {"row_count": row["__audit_rows"], "column_sums": totals}

    def numeric_audit_observed(
        self, df: DataFrame, operation: str = "numericaudit"
    ):
        """Single-pass numeric audit via ``df.observe``: returns
        (instrumented_df, finish) — attach the returned DataFrame to the
        job that was going to run anyway (the cleanse write), then call
        ``finish()`` after that action to log the audit event.  Unlike
        :meth:`numeric_audit` this costs ZERO extra passes: the metrics
        accumulate inside the write job itself, which at 100 TB is the
        difference between scanning the stage output once and twice
        (the cache only mitigates the second scan while it fits
        executor memory)."""
        from pyspark.sql import Observation

        obs = Observation(f"{operation}-{id(df)}")
        instrumented = df.observe(
            obs, *[expr.alias(name) for name, expr in self.numeric_audit_exprs(df).items()]
        )
        return instrumented, lambda: self.log_numeric_audit(df, obs.get, operation)

    def numeric_audit(self, df: DataFrame, operation: str = "numericaudit") -> dict[str, Any]:
        """Row count + per-numeric-column sums as one aggregate job."""
        exprs = self.numeric_audit_exprs(df)
        row = df.agg(*[expr.alias(name) for name, expr in exprs.items()]).collect()[0]
        return self.log_numeric_audit(df, row, operation)


def _numeric_columns(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float", "decimal", "integer", "long", "short")
    ]
