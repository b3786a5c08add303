"""Spark-native document tokenization (no Python UDF).

Turns the driver's ``documents`` table (doc_id, text, lang, source,
n_chars) into the ``input_hint`` token-table shape
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string) using
only JVM-side expressions: split + higher-order ``transform`` with
``md5`` — whole-stage-codegen friendly, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from atr_adaptive_laguerre_spark.data.corpus import VOCAB


def tokenize_documents_portable(docs: DataFrame,
                                vocab: int = VOCAB) -> DataFrame:
    """Engine-portable tokenization: identical token values are computable
    in ANSI SQL on other engines (DuckDB twin:
    ``('0x' || substr(md5(w), 1, 15))::BIGINT % vocab``), which the
    correctness-gate oracles for the flagship kernel queries rely on."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    tokens = F.transform(
        words,
        lambda w: (F.conv(F.substring(F.md5(w), 1, 15), 16, 10)
                   .cast("long") % F.lit(vocab)).cast("int"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.col("source"),
    )
