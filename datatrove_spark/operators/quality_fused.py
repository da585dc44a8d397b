"""Fused quality battery — the measured hot path for the full pipeline.

Of the per-stage operators, gopher_quality/c4_quality/fineweb_quality are
declarative column expressions and gopher_repetition is an Arrow-batched
pandas UDF; each is ideal for single-stage use and SQL-oracle parity.
Composing all four into one plan, however, defeats Catalyst's
subexpression elimination: higher-order-function lambdas get fresh variable
IDs per call, so the shared word/line/sentence arrays are re-evaluated per
stage (measured 24 s / 10k docs on local[32] vs 11 s for the stages run
separately).

This operator runs the whole battery in ONE Arrow-batched pandas UDF whose
per-doc body (``battery``) calls the engine's pure-Python reference
implementations: tokenize once, short-circuit in stage order, rewrite once.
Keep decisions are bit-identical to the per-stage operators. The curation
flow (``plans/pipeline.py``) calls the same ``battery`` inside its fused
langid + battery + PII kernel; ``apply`` serves the single-operator registry
rows. Arrow batching amortizes the Python boundary per batch, not per row.

Short-circuit semantics (matches reference pipeline order, base_filter
short-circuiting):
    drop_reason = first failing stage's reason, evaluated in order
                  gopher_repetition -> gopher_quality -> c4 -> fineweb
    final_text  = c4-rewritten text iff gopher stages passed (c4 only runs
                  then); original text otherwise
    fineweb runs on the c4-rewritten text.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from datatrove_spark.config import EngineConfig
from datatrove_spark.reference_impl import filters as rf

NAME = "quality_fused"

RESULT_SCHEMA = StructType(
    [StructField("drop_reason", StringType()), StructField("final_text", StringType())]
)


def battery(text: str | None, cfg: EngineConfig = EngineConfig()) -> tuple[str | None, str | None]:
    """Per-document battery: (first drop reason or None, final text). The
    final text is the c4 rewrite when both gopher stages passed, else the
    input unchanged."""
    ws = rf.words(text)  # one tokenization shared by both gopher stages
    reason = rf.gopher_repetition(text, cfg.gopher_repetition, ws=ws)
    if reason is None:
        reason = rf.gopher_quality(text, cfg.gopher_quality, ws=ws)
    if reason is not None:
        return reason, text
    reason, new_text = rf.c4_quality(text, cfg.c4)
    if reason is None:
        reason = rf.fineweb_quality(new_text, cfg.fineweb)
    return reason, new_text


def make_udf(cfg: EngineConfig = EngineConfig()):
    @F.pandas_udf(RESULT_SCHEMA)
    def quality_battery(texts: pd.Series) -> pd.DataFrame:
        reasons, outs = [], []
        for t in texts:
            reason, new_text = battery(t, cfg)
            reasons.append(reason)
            # NULL means "unchanged": only c4-rewritten docs ship text back
            # over Arrow (apply() coalesces with the input column JVM-side)
            outs.append(None if new_text == t else new_text)
        return pd.DataFrame({"drop_reason": reasons, "final_text": outs})

    return quality_battery


def apply(df: DataFrame, text_col: str = "text", cfg: EngineConfig = EngineConfig()) -> DataFrame:
    res = make_udf(cfg)(F.col(text_col))
    return (
        df.withColumn("__q", res)
        .withColumn("drop_reason", F.col("__q.drop_reason"))
        .withColumn("final_text", F.coalesce(F.col("__q.final_text"), F.col(text_col)))
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("__q")
    )
