"""Transcript-payload transform stages for the CDC pipeline.

The north star names three StreamSets-processor equivalents that must run
vectorized inside the ingest path: field masking, type coercion, and
role/tool normalization. All three are built here from the generic
processors (operators/processors.py); the PII masker is the designated
pandas/Arrow UDF (Arrow batches, no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# role normalization map — Field Value Replacer + Local KV lookup combo
_ROLE_CANON = {
    "user": "user", "human": "user", "usr": "user",
    "assistant": "assistant", "ai": "assistant", "model": "assistant", "bot": "assistant",
    "system": "system", "sys": "system",
    "tool": "tool", "function": "tool", "tool_call": "tool",
}

_EMAIL = r"[\w.+-]+@[\w-]+\.[\w.-]+"
_LONG_NUM = r"\b\d{7,}\b"


def mask_pii(text: Column) -> Column:
    """PII mask over the text column: emails and long digit runs are
    replaced, preserving length class. This is the Field Masker
    (fieldmask/FieldMaskProcessor.java) REGEX mode as pure JVM
    ``regexp_replace`` — it fuses into the surrounding codegen stage, so the
    ingest hot path never crosses the JVM<->Python boundary (an earlier
    revision was an Arrow-batched pandas UDF; the Arrow transpose +
    serialization of the text column both ways was pure overhead next to
    two regexes the JVM runs identically — guide-§4 'built-ins first').
    Java and Python regex agree on these patterns for ASCII text (\\w, \\d,
    \\b); the corpus/test alphabets are ASCII.

    The email pattern needs a literal ``@``, so text without one skips it:
    its unanchored ``[\\w.+-]+`` would otherwise backtrack through every
    word of the text to find no match."""
    email_masked = F.when(
        text.contains("@"), F.regexp_replace(text, _EMAIL, "<email>")
    ).otherwise(text)
    return F.regexp_replace(email_masked, _LONG_NUM, "<num>")


def normalize_roles(df: DataFrame, column: str = "role") -> DataFrame:
    """Role normalization: trim/lower + canonical mapping, JVM-side
    (Local KV lookup, LocalLookupProcessor.java, as a literal map)."""
    pairs = []
    for k, v in _ROLE_CANON.items():
        pairs.extend([F.lit(k), F.lit(v)])
    m = F.create_map(*pairs)
    cleaned = F.lower(F.trim(F.col(column)))
    return df.withColumn(column, F.coalesce(m[cleaned], cleaned))


def normalize_tools(df: DataFrame, column: str = "tool") -> DataFrame:
    """Tool normalization: lower/trim, empty string -> NULL (Field Value
    Replacer NULL-out semantics, FieldValueReplacerProcessor.java)."""
    cleaned = F.lower(F.trim(F.col(column)))
    return df.withColumn(
        column, F.when(cleaned == "", F.lit(None)).otherwise(cleaned)
    )


def coerce_types(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast payload columns to the target schema types — Field Type
    Converter (FieldTypeConverterProcessor.java:63-188) in one projection."""
    casts = {
        f.name: F.col(f.name).cast(f.dataType)
        for f in schema.fields
        if f.name in df.columns
    }
    return df.withColumns(casts)


def transcript_transforms(df: DataFrame) -> DataFrame:
    """The standard per-batch transform chain for the transcripts pipeline:
    role/tool normalization + PII masking, all JVM expressions in ONE
    withColumns projection (a withColumn per stage re-analyzes the whole
    batch plan eagerly on every micro-batch for the same physical plan)."""
    pairs = []
    for k, v in _ROLE_CANON.items():
        pairs.extend([F.lit(k), F.lit(v)])
    role_clean = F.lower(F.trim(F.col("role")))
    tool_clean = F.lower(F.trim(F.col("tool")))
    cols = {
        "role": F.coalesce(F.create_map(*pairs)[role_clean], role_clean),
        "tool": F.when(tool_clean == "", F.lit(None)).otherwise(tool_clean),
        "text": mask_pii(F.col("text")),
    }
    return df.withColumns(cols)
