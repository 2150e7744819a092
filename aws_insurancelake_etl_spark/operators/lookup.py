"""Lookup transforms: value substitution and multi-attribute lookup via
broadcast left-outer joins against small side tables.

Semantics parity: reference ``lib/glue_scripts/lib/datatransform_lookup.py``
(lookup :43-117, multilookup :162-221): left join keeps all source rows,
``nomatch`` fills unmatched values, ``source`` present ⇒ add a new column,
absent ⇒ replace in place.  The reference's DynamoDB side tables become a
local :class:`~aws_insurancelake_etl_spark.context.LookupStore`; lookup data
is dimension-sized, so an explicit ``broadcast()`` hint keeps the join a
broadcast hash join with no shuffle of the fact side at any scale.

Side tables are built on the JVM as a local relation
(:func:`~aws_insurancelake_etl_spark.sources.dml_core.meta_df`, the helper
the table formats build their metadata frames with), typed exactly as
``createDataFrame(list)`` would type them.  A ``createDataFrame(list)``
side table is a Python RDD: every broadcast of it starts Python workers,
which cost more than the join itself at lookup sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..context import RunContext
from ..sources.dml_core import meta_df


def transform_lookup(df: DataFrame, spec: list[dict], ctx: RunContext) -> DataFrame:
    """``[{field, source?, lookup, nomatch?, source_system?}]`` — replace or
    add a column with values mapped through a named lookup table."""
    for entry in spec:
        mapping = ctx.lookups.get_values(entry["lookup"])
        source_field = entry.get("source", entry["field"])
        lookup_df = meta_df(
            ctx.spark, list(mapping.items()), names=["orig_value", "new_value"]
        )
        df = df.join(
            F.broadcast(lookup_df), df[source_field] == lookup_df["orig_value"], "left"
        ).drop("orig_value")
        if "source" not in entry:
            df = df.drop(entry["field"])
        df = df.withColumnRenamed("new_value", entry["field"])
        if "nomatch" in entry:
            df = df.fillna(entry["nomatch"], entry["field"])
        ctx.log_lineage("lookup", df=df, transform=[entry])
    return df


def transform_multilookup(df: DataFrame, spec: list[dict], ctx: RunContext) -> DataFrame:
    """``[{lookup_group, match_columns, return_attributes, nomatch?}]`` —
    join N return attributes keyed on the ``-``-concatenation of the match
    columns."""
    for entry in spec:
        items = ctx.lookups.get_multi(entry["lookup_group"])
        attributes = entry["return_attributes"]
        rows = [(key, *[value.get(a) for a in attributes]) for key, value in items.items()]
        lookup_df = meta_df(ctx.spark, rows, names=["lookup_item", *attributes])
        df = df.join(
            F.broadcast(lookup_df),
            F.concat_ws("-", *entry["match_columns"]) == lookup_df["lookup_item"],
            "left",
        ).drop("lookup_item")
        if "nomatch" in entry:
            df = df.fillna({a: entry["nomatch"] for a in entry["return_attributes"]})
        ctx.log_lineage("multilookup", df=df, transform=[entry])
    return df
