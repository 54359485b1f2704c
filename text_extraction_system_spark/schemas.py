"""Spark schemas for the extraction engine, and the one projection every
document operator reads its input through (``keyed`` / ``documents``).

Mirrors the reference DTOs (``text_extraction_system_api/.../dto.py:87-213``)
per the SURVEY.md section 1 mapping: FloatType (not Double) for coordinates to
match the reference's float32 contract
(``PDFToTextWithCoordinates.java:61-65`` rounds to 2 decimals;
``tasks.py:480-485`` packs with ``use_single_float=True``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- input: documents table ------------------------------------------------


def keyed(df: DataFrame, *cols: str | Column) -> DataFrame:
    """``df``'s ``doc_id`` as the string every document operator emits,
    then ``cols``: the one projection of the document contract. An input
    column keeps its fixed name (``doc_id``, ``text``, ``spans``, ``source``,
    ``html``, ``n_tokens``, ``ingest_ts``, ...); a caller with other names
    renames them at its call site."""
    return df.select(F.col("doc_id").cast("string").alias("doc_id"), *cols)


def documents(df: DataFrame, *carry: str | Column) -> DataFrame:
    """A documents table as (doc_id string, text, *carry)."""
    return keyed(df, "text", *carry)


# --- input: interleaved spans table (BASELINE.json input_hint) -------------

SPAN = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
])

SPANS_INPUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN, False), False),
])

# --- structure record (dto.py:87-165 PlainTextStructure) -------------------

PAGE = T.StructType([
    T.StructField("number", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("bbox", T.ArrayType(T.FloatType(), False), False),
    T.StructField("rotation", T.IntegerType(), False),
])

TEXT_SPAN = T.StructType([           # sentence / paragraph (dto.py:117-141)
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("language", T.StringType(), False),
])

SECTION = T.StructType([             # dto.py:101-114
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("title_start", T.IntegerType(), False),
    T.StructField("title_end", T.IntegerType(), False),
    T.StructField("level", T.IntegerType(), False),
    T.StructField("abs_level", T.IntegerType(), False),
])

STRUCTURE = T.StructType([           # dto.py:155-165
    T.StructField("title", T.StringType(), False),
    T.StructField("language", T.StringType(), False),
    T.StructField("paragraphs", T.ArrayType(TEXT_SPAN, False), False),
    T.StructField("sentences", T.ArrayType(TEXT_SPAN, False), False),
    T.StructField("sections", T.ArrayType(SECTION, False), False),
])

TABLE = T.StructType([               # dto.py:183-206
    T.StructField("left", T.FloatType(), False),
    T.StructField("top", T.FloatType(), False),
    T.StructField("width", T.FloatType(), False),
    T.StructField("height", T.FloatType(), False),
    T.StructField("data", T.ArrayType(T.ArrayType(T.StringType(), False), False), False),
    T.StructField("page", T.IntegerType(), False),
])

# --- lineage / metrics row (north_star: per-partition lineage) -------------

LINEAGE = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("doc_count", T.LongType(), False),
    T.StructField("span_count", T.LongType(), False),
    T.StructField("byte_count", T.LongType(), False),
    T.StructField("failure_count", T.LongType(), False),
    T.StructField("failure_codes", T.ArrayType(T.StringType(), False), False),
])
