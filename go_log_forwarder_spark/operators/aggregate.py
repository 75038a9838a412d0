"""Aggregations: the counter output and pipeline metrics.

The reference's ONLY aggregate is the counter output
(``internal/output/counter/counter.go:39-62``): a per-sink running count of
tag-matched events. The implicit second aggregate is the per-input line
accounting (tail.go:449, http.go:134-149). The north rule widens these to
per-sink / per-source counts and run accounting (rows_in / rows_parsed /
rows_dropped / rows_routed). :func:`pipeline_metrics` is the one copy of
that accounting: the roster keys it by source, the per-partition view by
``spark_partition_id()``, and ``plans/lineage.py`` by input unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.routing import SinkSpec


def _sink_count_cols(sinks: list[SinkSpec], tag_col: str) -> list:
    return [
        F.sum(s.compiled.column(F.col(tag_col)).cast("long")).alias(s.name)
        for s in sinks
    ]


def _stack_expr(sinks: list[SinkSpec]) -> str:
    pairs = ", ".join(f"'{s.name}', `{s.name}`" for s in sinks)
    return f"stack({len(sinks)}, {pairs}) as (sink_name, n)"


def per_sink_counts(df: DataFrame, sinks: list[SinkSpec], tag_col: str = "tag") -> DataFrame:
    """counter.go:46-62 for every sink at once: (sink_name, n).

    Sinks that match zero rows still appear (count 0) — the reference
    counter prints 0 before any event arrives (counter.go:39-44).

    Round 7: conditional aggregation (one sum per sink over the unexploded
    frame) instead of explode + groupBy + a zero-backfill join — the
    explode built a rowcount-x-sinkcount blowup just to count it (guide
    §2.3: aggregate before you move rows)."""
    got = df.agg(*_sink_count_cols(sinks, tag_col))
    return got.selectExpr(_stack_expr(sinks)).select(
        "sink_name", F.coalesce("n", F.lit(0)).alias("n")
    )


def per_sink_source_counts(
    df: DataFrame, sinks: list[SinkSpec], tag_col: str = "tag", source_col: str = "source"
) -> DataFrame:
    """(sink_name, source, n) — the north rule's per-sink/per-source counts.

    Same conditional-aggregation shape as :func:`per_sink_counts`; the
    unpivot emits every (sink, source) cell, so the n > 0 filter restores
    the explode formulation's exact row set (a pair appeared there iff at
    least one row routed to it)."""
    got = df.groupBy(F.col(source_col).alias("source")).agg(
        *_sink_count_cols(sinks, tag_col)
    )
    return (
        got.select("source", F.expr(_stack_expr(sinks)))
        .filter(F.col("n") > 0)
        .select("sink_name", "source", "n")
    )


def pipeline_metrics(
    parsed_df: DataFrame,
    keep_pred,
    sinks: list[SinkSpec],
    key_col: str = "source",
    tag_col: str = "tag",
) -> DataFrame:
    """Per-``key_col`` accounting in ONE scan: rows_in, rows_parsed,
    rows_dropped (by the filter chain), rows_routed (row x sink pairs;
    fan-out duplicates rows across sinks by design, engine.go:137-143).

    ``parsed_df`` is the post-parse pre-filter frame and ``keep_pred`` the
    filter chain's survival predicate over it (``GrepFilter.keep_pred``).
    Conditional aggregation: rows_routed is the sum over kept rows of
    their matching-sink count — a row matching no sink contributes 0, as
    ``route_exploded`` dropping it; rows_dropped = rows_in - kept. Mirrors
    the accounting in tail.go:449/http.go:149. The per-partition view keys
    on ``F.spark_partition_id()``, the resumable runner on its unit column.
    """
    key = F.col(key_col)
    n_match = None
    for s in sinks:
        c = s.compiled.column(F.col(tag_col)).cast("long")
        n_match = c if n_match is None else n_match + c
    return parsed_df.groupBy(key.alias(key_col)).agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("parsed").isNotNull(), 1).otherwise(0)).alias("rows_parsed"),
        F.sum(keep_pred.cast("long")).alias("_kept"),
        F.sum(F.when(keep_pred, n_match).otherwise(0)).alias("rows_routed"),
    ).select(
        key_col,
        "rows_in",
        "rows_parsed",
        (F.col("rows_in") - F.col("_kept")).alias("rows_dropped"),
        "rows_routed",
    )
