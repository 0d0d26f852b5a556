"""Drop-reason metrics + per-partition lineage tables.

The reference logs before/after counts and % removed at every filter
(/root/reference/open_thoughts_3/dcft/data_strategies/commons.py:425-433,
open_thoughts/deduplicate.py:53-54) and records per-operator row counts in a
Postgres lineage table (synthetic_data_manager.py:794-1056). Here both become
first-class DataFrames: declarative aggregations, no driver-side counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def drop_reason_metrics(decided: DataFrame) -> DataFrame:
    """Rows per drop_reason (null reason = kept), with fraction of total.

    A single groupBy — Catalyst performs map-side partial aggregation, so at
    10^12 turns the shuffle carries one row per (partition, reason). The
    global-total window runs over the tiny aggregated result (≤ #rules rows).
    """
    return (
        decided.groupBy(F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason"))
        .agg(F.count("*").alias("rows"))
        .withColumn("fraction", F.col("rows") / F.sum("rows").over(Window.partitionBy()))
    )


def partition_lineage(decided: DataFrame) -> DataFrame:
    """Per-input-partition accounting: rows in, rows kept, rows dropped.

    The Spark analog of the reference's per-shard logging — expressed as a
    groupBy on ``spark_partition_id()`` instead of imperative counters. On
    the cascade's output that id is the input scan partition (the
    turn-order window is pruned from result projections, so nothing
    shuffles before it). ``run_pipeline`` derives the same table from the
    written decisions instead: writer task ``k`` writes ``part-<k>``, so
    the file's part number is that partition id (:func:`part_number`).
    """
    return row_accounting(decided, F.spark_partition_id())


def part_number() -> Column:
    """Part number of the file a row was read from (``part-<k>-...``): the
    partition id of the write task that produced the row."""
    return F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int")


def row_accounting(decided: DataFrame, partition_id: Column) -> DataFrame:
    """(partition_id, rows_in, rows_kept, rows_dropped) grouped by
    ``partition_id`` — the body of :func:`partition_lineage`."""
    return (
        decided.groupBy(partition_id.alias("partition_id"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        )
        .withColumn("rows_dropped", F.col("rows_in") - F.col("rows_kept"))
    )


def rule_names(flagged: DataFrame) -> list[str]:
    """The rules whose ``rule_<name>`` flag columns ``flagged`` carries."""
    rules = [c[len("rule_"):] for c in flagged.columns if c.startswith("rule_")]
    if not rules:
        raise ValueError(
            "rule_hit_matrix needs the rule_<name> flag columns — pass the "
            "with_quality_flags / quality_filter output, not a projection "
            "that dropped them"
        )
    return rules


def rule_hit_counters(rules: list[str], reason_col: str = "drop_reason") -> list[Column]:
    """Two aggregate columns per rule: ``_h_<rule>`` (rows the flag fires
    on) and ``_a_<rule>`` (rows the cascade charged to the rule). Usable in
    ``agg`` and in ``observe`` alike; built as SQL text (one parse per
    column, not one py4j call per expression node)."""
    aggs = []
    for r in rules:
        aggs.append(F.expr(f"sum(cast(rule_{r} as bigint)) as _h_{r}"))
        aggs.append(
            F.expr(f"sum(case when {reason_col} = '{r}' then 1 else 0 end) as _a_{r}")
        )
    return aggs


def rule_hit_rows(counters: DataFrame, rules: list[str]) -> DataFrame:
    """Unpivot the one-row :func:`rule_hit_counters` result into
    (rule, hits, attributed, shadowed), one row per rule."""
    triples = ", ".join(f"'{r}', _h_{r}, _a_{r}" for r in rules)
    return counters.selectExpr(
        f"stack({len(rules)}, {triples}) as (rule, hits, attributed)"
    ).selectExpr("*", "hits - attributed as shadowed")


def rule_hit_matrix(
    flagged: DataFrame, reason_col: str = "drop_reason"
) -> DataFrame:
    """(rule, hits, attributed, shadowed) per rule — the ablation view the
    first-match cascade hides.

    ``hits`` counts every row where the rule fires independent of cascade
    position (the ``rule_<name>`` flags from ``with_quality_flags``);
    ``attributed`` counts rows the cascade actually charged to this rule
    (its drop_reason); ``shadowed = hits - attributed`` is overlap an
    earlier rule claimed first. Tuning a threshold against the metrics
    table alone misleads — a rule whose drops all reappear under another
    rule's hits buys nothing when relaxed; this table shows that.

    One pass: a single global aggregate (2 small counters per rule,
    map-side partial agg — well under the ~40-buffer-field codegen limit
    at the 13-rule inventory) unpivoted driver-free into one row per rule.
    ``run_pipeline`` observes the same counters on its decisions write
    instead of aggregating in a pass of its own.
    """
    rules = rule_names(flagged)
    return rule_hit_rows(flagged.agg(*rule_hit_counters(rules, reason_col)), rules)
