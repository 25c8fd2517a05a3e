"""Job metrics — the counters surface (SURVEY.md §2.6).

The reference logs per-run counters: pages processed, dropped pages, avg
sec/page (app/processors.py:408-409,595-596). At table scale these become
one aggregation pass over the per-turn output: ``pipeline_metrics`` —
per-mode turn, truncation, repeat-flag, error and char counters beside
the exact conversation-size counters (the inputs that size the
salting/chunking knobs in assemble.py).

All JVM aggregates; collected to the driver only as a handful of summary
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pipeline_metrics(turns: DataFrame) -> DataFrame:
    """Per-mode counters × conversation-size counters in ONE pass over
    the extraction output → one row per ``tool``: n_turns, n_truncated,
    n_repeat_flagged, n_errors, chars_in, chars_out, avg_chars_out, then
    the table-wide n_convs, n_turns_total, max_conv_turns.

    Both finals derive from a shared (conv_id, tool) partial aggregate,
    so the two branches have an identical child subtree and Spark reuses
    its shuffle exchange (ReusedExchange) — the upstream extraction runs
    once instead of once per branch. Every counter is exact: there are no
    approximate percentiles, so every column has an exact oracle."""
    base = turns.groupBy("conv_id", "tool").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_truncated").cast("int")).alias("n_trunc"),
        F.sum(F.col("has_repeat").cast("int")).alias("n_rep"),
        F.sum((F.col("error").isNotNull()).cast("int")).alias("n_err"),
        F.sum("n_chars_in").alias("sum_in"),
        F.sum("n_chars_out").alias("sum_out"),
    )
    mm = base.groupBy("tool").agg(
        F.sum("n").alias("n_turns"),
        F.sum("n_trunc").alias("n_truncated"),
        F.sum("n_rep").alias("n_repeat_flagged"),
        F.sum("n_err").alias("n_errors"),
        F.sum("sum_in").alias("chars_in"),
        F.sum("sum_out").alias("chars_out"),
        F.round(F.sum("sum_out") / F.sum("n"), 2).alias("avg_chars_out"),
    )
    cs = (
        base.groupBy("conv_id")
        .agg(F.sum("n").alias("conv_turns"))
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.sum("conv_turns").alias("n_turns_total"),
            F.max("conv_turns").alias("max_conv_turns"),
        )
    )
    # both sides are metric-row-sized: the cross join broadcasts
    return mm.crossJoin(cs)

