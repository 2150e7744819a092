"""DQ stage execution: warn / quarantine / halt orchestration.

Parity with ``lib/glue_scripts/lib/dataquality_check.py``: warn logs and
continues (:145-171); quarantine splits rows, stamps ``quarantine_timestamp``
and writes ``<table>_quarantine_<stage>`` then aborts if *every* row was
quarantined (:174-263); halt is evaluated last against the pre-quarantine
DataFrame (:116-142, :311-314) and raises on any failure.

One ``df.agg`` per stage, over the pre-quarantine frame, evaluates every
aggregate warn and halt rule together with the quarantine split's fail and
pass counts (and, when the caller asks, the lineage numeric audit).  The
stage's side effects then run in order from that one row: warn log,
quarantine write, the all-rows-quarantined error, halt.  Row-level
quarantine rules fold into a single conjunction, so the split is two
filters over one plan.  Rules that need a join or a sub-aggregation keep
their own evaluation: ReferentialIntegrity, DatasetMatch, CustomSql (run
as its own ``spark.sql`` against a ``primary`` temp view; row-level
CustomSql passes rows by semi-join on the selected key column(s)) and
``dataset_eval`` rules.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..context import RunContext
from .dq import _OPS, CompiledRule, RuleCompiler, RuleOutcome

logger = logging.getLogger(__name__)

STAGES = ("before_transform", "after_transform", "after_sparksql")
ACTIONS = ("warn_rules", "quarantine_rules", "halt_rules")


class DataQualityHaltError(RuntimeError):
    pass


class DataQualityQuarantineAllRowsError(RuntimeError):
    pass


@dataclass
class DQStageResult:
    stage: str
    outcomes: list[RuleOutcome] = field(default_factory=list)
    quarantined_count: int = 0
    quarantine_df: DataFrame | None = None


def _agg_exprs(rules: list[CompiledRule]) -> dict[str, Column]:
    exprs: dict[str, Column] = {}
    for rule in rules:
        exprs.update(rule.agg_exprs)
    return exprs


def _aggregate(df: DataFrame, exprs: dict[str, Column]) -> dict[str, Any]:
    if not exprs:
        return {}
    return df.agg(*[expr.alias(name) for name, expr in exprs.items()]).collect()[0].asDict()


def _outcomes(
    df: DataFrame, rules: list[CompiledRule], agg_row: dict[str, Any], ctx: RunContext
) -> list[RuleOutcome]:
    """Outcomes of ``rules`` given the values of their aggregates in
    ``agg_row``; join-based and CustomSql rules evaluate here, over ``df``."""
    outcomes: list[RuleOutcome] = []
    for rule in rules:
        if rule.ri_keys is not None:
            outcomes.append(_evaluate_ref_integrity(df, rule))
        elif rule.dm_ref is not None:
            outcomes.append(_evaluate_dataset_match(df, rule))
        elif rule.custom_sql is not None:
            outcomes.append(_evaluate_custom_sql(df, rule, ctx))
        elif rule.dataset_eval is not None:
            outcomes.append(rule.dataset_eval(df))
        elif rule.agg_eval is not None:
            passed = rule.agg_eval(agg_row)
            observed = {k: agg_row.get(k) for k in rule.agg_exprs}
            outcomes.append(RuleOutcome(rule.text, passed, observed))
        elif rule.static_result is not None:
            outcomes.append(RuleOutcome(rule.text, rule.static_result))
        else:
            outcomes.append(RuleOutcome(rule.text, True))
    return outcomes


def _evaluate_rules(
    df: DataFrame, rules: list[CompiledRule], ctx: RunContext
) -> list[RuleOutcome]:
    """Aggregate pass over all rules; CustomSql via temp view."""
    return _outcomes(df, rules, _aggregate(df, _agg_exprs(rules)), ctx)


def _evaluate_ref_integrity(df: DataFrame, rule: CompiledRule) -> RuleOutcome:
    """Membership ratio of fact keys in the distinct reference-key set:
    one broadcast left join (reference keys are dimension-sized), one
    aggregate.  Null fact keys count as violations, matching Glue DQDL.
    Default threshold is ratio = 1.0 (every key resolves)."""
    marker = "__dq_ri_match"
    keys = rule.ri_keys.withColumnRenamed(rule.ri_ref_col, "__dq_ri_key").withColumn(
        marker, F.lit(True)
    )
    joined = df.join(
        F.broadcast(keys),
        df[rule.ri_col].eqNullSafe(F.col("__dq_ri_key")),
        "left",
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col(marker), F.lit(False)).cast("long")).alias("m"),
    ).collect()[0]
    total, matched = int(row["n"]), int(row["m"] or 0)
    ratio = (matched / total) if total else 1.0
    if rule.ri_compare is not None:
        op, threshold = rule.ri_compare
        passed = getattr(ratio, _OPS[op])(threshold)
    else:
        passed = matched == total
    return RuleOutcome(rule.text, bool(passed), {"matched": matched, "total": total})


def _evaluate_dataset_match(df: DataFrame, rule: CompiledRule) -> RuleOutcome:
    """DatasetMatch (Glue DQDL): fraction of primary rows whose key
    exists in the reference with EQUAL shared non-key columns — one
    key-partitioned join + one aggregate.  Reference rows are deduped on
    the key (a multi-match reference would inflate the ratio)."""
    keys = list(rule.dm_keys)
    shared = [c for c in df.columns if c in rule.dm_ref.columns and c not in keys]
    ref = rule.dm_ref.dropDuplicates(keys).select(
        *[F.col(f"`{k}`") for k in keys],
        *[F.col(f"`{c}`").alias(f"__dm_{c}") for c in shared],
        F.lit(True).alias("__dm_present"),
    )
    # the explicit presence flag is load-bearing: without it, a primary
    # row with all-null shared columns and an ABSENT key would count as
    # a match (eqNullSafe(null, null) is true per column)
    marker = F.coalesce(F.col("__dm_present"), F.lit(False))
    for c in shared:
        marker = marker & F.col(f"`{c}`").eqNullSafe(F.col(f"__dm_{c}"))
    joined = df.join(ref, keys, "left")
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(marker.cast("long")).alias("m"),
    ).collect()[0]
    total, matched = int(row["n"]), int(row["m"] or 0)
    ratio = (matched / total) if total else 1.0
    if rule.dm_compare is not None:
        op, threshold = rule.dm_compare
        passed = getattr(ratio, _OPS[op])(threshold)
    else:
        passed = matched == total
    return RuleOutcome(rule.text, bool(passed), {"matched": matched, "total": total})


def _evaluate_custom_sql(df: DataFrame, rule: CompiledRule, ctx: RunContext) -> RuleOutcome:
    df.createOrReplaceTempView("primary")
    result = ctx.spark.sql(rule.custom_sql)
    if rule.custom_sql_compare is None:
        # Row-level form: passes if it returns at least one row (aggregate
        # interpretation); quarantine use resolves rows via semi-join.
        count = result.count()
        return RuleOutcome(rule.text, count > 0, {"rows": count})
    first = result.collect()
    scalar = first[0][0] if first else None
    op, value, value2 = rule.custom_sql_compare
    if scalar is None:
        return RuleOutcome(rule.text, False, {"scalar": None})
    if op == "between":
        passed = value < scalar < value2
    else:
        py_ops = {">": "__gt__", ">=": "__ge__", "<": "__lt__", "<=": "__le__",
                  "=": "__eq__", "!=": "__ne__"}
        passed = getattr(scalar, py_ops[op])(value)
    return RuleOutcome(rule.text, bool(passed), {"scalar": scalar})


def _quarantine_marks(
    df: DataFrame, rules: list[CompiledRule], ctx: RunContext
) -> tuple[DataFrame, Column | None]:
    """Return ``(marked, predicate)``: ``df`` with one ``__dq_pass_*``
    marker column per join-based rule (left joins against distinct key
    sets, so the rows are ``df``'s), and the conjunction of every rule's
    row-level pass predicate over it (None when no rule is row-level)."""
    predicate: Column | None = None
    for rule in rules:
        rule_pred = rule.predicate
        if rule.ri_keys is not None:
            # Row-level referential integrity: a row passes when its key
            # appears in the broadcast distinct reference-key set.
            marker = f"__dq_pass_{abs(hash(rule.text)) % (10**9)}"
            keys = rule.ri_keys.withColumnRenamed(
                rule.ri_ref_col, "__dq_ri_key"
            ).withColumn(marker, F.lit(True))
            df = df.join(
                F.broadcast(keys),
                df[rule.ri_col].eqNullSafe(F.col("__dq_ri_key")),
                "left",
            ).drop("__dq_ri_key")
            rule_pred = F.coalesce(F.col(marker), F.lit(False))
        if rule.custom_sql is not None and rule.custom_sql_compare is None:
            # Row-level CustomSql: rows pass when their key tuple appears in
            # the result set (left-semi); broadcast keeps it shuffle-free
            # when the key set is small.
            # The key set is renamed before the join: it derives from df, and
            # same-named key columns would let the drop take df's own column
            # (failing rows would lose their keys, passing rows reorder).
            df.createOrReplaceTempView("primary")
            keys_df = ctx.spark.sql(rule.custom_sql).distinct()
            key_cols = keys_df.columns
            aliases = [f"__dq_key_{i}" for i in range(len(key_cols))]
            marker = f"__dq_pass_{abs(hash(rule.text)) % (10**9)}"
            marked = keys_df.toDF(*aliases).withColumn(marker, F.lit(True))
            join_cond = [df[c].eqNullSafe(F.col(a)) for c, a in zip(key_cols, aliases)]
            df = df.join(F.broadcast(marked), join_cond, "left").drop(*aliases)
            rule_pred = F.coalesce(F.col(marker), F.lit(False))
        if rule_pred is None:
            continue
        predicate = rule_pred if predicate is None else (predicate & rule_pred)
    return df, predicate


def _split(
    df: DataFrame, marked: DataFrame, predicate: Column | None
) -> tuple[DataFrame, DataFrame]:
    """(passing_rows, failing_rows) of ``df``, from :func:`_quarantine_marks`."""
    if predicate is None:
        return df, df.limit(0)
    marker_cols = [c for c in marked.columns if c.startswith("__dq_pass_")]
    passing = marked.filter(predicate).drop(*marker_cols)
    failing = marked.filter(~F.coalesce(predicate.cast("boolean"), F.lit(False)))
    return passing, failing.drop(*marker_cols)


def _quarantine_split(
    df: DataFrame, rules: list[CompiledRule], ctx: RunContext
) -> tuple[DataFrame, DataFrame]:
    """Return (passing_rows, failing_rows) across all quarantine rules."""
    return _split(df, *_quarantine_marks(df, rules, ctx))


def run_dq_stage(
    df: DataFrame,
    dq_rules: dict,
    stage: str,
    ctx: RunContext,
    table_name: str = "primary",
    quarantine_writer=None,
    numeric_audit: bool = False,
) -> tuple[DataFrame, DQStageResult]:
    """Apply one stage's warn/quarantine/halt rules; returns the (possibly
    quarantine-filtered) DataFrame and the stage outcomes.

    ``quarantine_writer(failing, table, rows)`` is called once per stage
    with quarantine rules, also when no row fails (``rows == 0``), so it
    can replace what an earlier load of the partition quarantined.
    ``numeric_audit`` folds the lineage numeric audit of ``df`` into the
    stage aggregate and logs it before the stage's own events."""
    result = DQStageResult(stage=stage)
    stage_rules: dict = dq_rules.get(stage, {})
    audit = ctx.lineage if numeric_audit else None
    if not stage_rules and audit is None:
        return df, result
    compiler = RuleCompiler(df)

    warn = [compiler.compile(r) for r in stage_rules.get("warn_rules", [])]
    quarantine = [compiler.compile(r) for r in stage_rules.get("quarantine_rules", [])]
    halt = [compiler.compile(r) for r in stage_rules.get("halt_rules", [])]

    # One aggregate over the pre-quarantine rows: warn and halt aggregates,
    # the quarantine fail/pass counts and the audit.  The marker joins of
    # the quarantine split keep df's rows, so every aggregate can run over
    # the marked frame.
    frame, predicate = _quarantine_marks(df, quarantine, ctx) if quarantine else (df, None)
    exprs = _agg_exprs(warn + halt)
    if predicate is not None:
        passed = F.coalesce(predicate.cast("boolean"), F.lit(False))
        exprs["__dq_quarantine_fail"] = F.count_if(~passed)
        exprs["__dq_quarantine_pass"] = F.count_if(passed)
    if audit is not None:
        exprs.update(audit.numeric_audit_exprs(df))
    agg_row = _aggregate(frame, exprs)

    if audit is not None:
        audit.log_numeric_audit(df, agg_row)

    for outcome in _outcomes(df, warn, agg_row, ctx):
        result.outcomes.append(outcome)
        if not outcome.passed:
            logger.warning("DQ warn rule failed (%s): %s", stage, outcome.rule)
        ctx.log_lineage("dq-warn", rule=outcome.rule, passed=outcome.passed,
                        observed=outcome.observed)

    out = df
    if quarantine:
        failing_count = int(agg_row.get("__dq_quarantine_fail", 0))
        out, failing = _split(df, frame, predicate)
        failing = failing.withColumn("quarantine_timestamp", F.current_timestamp())
        result.quarantined_count = failing_count
        result.quarantine_df = failing
        if quarantine_writer is not None:
            quarantine_writer(failing, f"{table_name}_quarantine_{stage}", failing_count)
        if failing_count and not agg_row["__dq_quarantine_pass"]:
            raise DataQualityQuarantineAllRowsError(
                f"All rows failed quarantine rules in stage {stage}"
            )
        ctx.log_lineage("dq-quarantine", stage=stage, quarantined=failing_count)

    if halt:
        failures = [o for o in _outcomes(df, halt, agg_row, ctx) if not o.passed]
        result.outcomes.extend(failures)
        if failures:
            raise DataQualityHaltError(
                f"DQ halt rule(s) failed in stage {stage}: "
                + "; ".join(o.rule for o in failures)
            )
    return out, result
