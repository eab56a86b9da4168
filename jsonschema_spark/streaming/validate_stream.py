"""Structured Streaming validation: the same compiled constraint plan applied
to an unbounded stream of documents.

The constraint plan is a narrow projection (pure Column expressions, no
shuffle — see jsonschema_spark.plans.columns), so it composes directly with
readStream sources; violations stream out continuously and windowed violation
metrics ride a watermark for late data. The reference has no streaming
surface (SURVEY.md §2.8) — this is the Spark-native extension the north rule's
continuous-ingest deployments need.

Typical wiring:

    stream = spark.readStream.schema(ddl).parquet(landing_dir)
    validated = validate_stream(stream, DOCS_SCHEMA)
    validated.writeStream.partitionBy("valid").format("parquet")...
    stream_violation_metrics(validated, "ingest_ts").writeStream...
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["validate_stream", "stream_violation_metrics"]


def validate_stream(
    stream_df: DataFrame,
    schema: dict[str, Any],
    *,
    assert_format: bool = True,
    violations_col: str = "violations",
    valid_col: str = "valid",
) -> DataFrame:
    """Attach violations + valid columns to a streaming DataFrame.

    Stateless per-row projection: works under every trigger including
    continuous processing; no watermark required."""
    from jsonschema_spark.plans.columns import SparkPlanCompiler

    return SparkPlanCompiler(schema, assert_format=assert_format).apply(
        stream_df, violations_col=violations_col, valid_col=valid_col
    )


def stream_violation_metrics(
    validated: DataFrame,
    ts_col: str,
    *,
    window_duration: str = "1 minute",
    watermark: str = "5 minutes",
    valid_col: str = "valid",
    violations_col: str = "violations",
) -> DataFrame:
    """Windowed pass/fail metrics with late-data handling.

    Output per (window): doc_count, valid_count, violation_count, plus a
    per-keyword violation breakdown — the streaming analogue of the batch
    runner's per-bucket metrics rows. Watermark bounds state so the job runs
    forever; late rows beyond the watermark are dropped (documented)."""
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("window"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.col(valid_col).cast("long")).alias("valid_count"),
            F.sum(F.size(violations_col)).alias("violation_count"),
        )
    )


def stream_keyword_metrics(
    validated: DataFrame,
    ts_col: str,
    *,
    window_duration: str = "1 minute",
    watermark: str = "5 minutes",
    violations_col: str = "violations",
) -> DataFrame:
    """Per-keyword violation counts per window — the drill-down stream."""
    return (
        validated.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(violations_col).alias("v"))
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("window"),
            F.col("v.keyword").alias("keyword"),
            F.col("v.code").alias("code"),
        )
        .count()
    )
