"""Crawl → training-corpus plan: WARC/archive inputs to a documents
table, as one declarative pipeline.

This is the composition the WARC source exists for: the recursive
walker (sources/walker.py) yields captured response bodies as entries,
and everything after the walker is pure JVM column work — UTF-8
validity gate, HTML detection by content sniff, `html_to_text`
extraction, language ID, quality features — fused by Catalyst into the
ingest scan's stage. The entries first pass the same refine stage as
``convert`` (include, size, optional hash dedup). Without ``unique``
there is no shuffle anywhere: input → documents is a single stage,
exactly like the reference's archive → parquet path, with the text
refinement layered in at scan speed.

Output schema matches the synthetic `documents` testdata table
(doc_id, text, lang, source, n_chars) so every downstream catalog
operator (dedup, quality, sampling, packing) runs on crawl output
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.html import html_title, html_to_text
from archive_to_parquet_spark.functions.text import language_id_col
from archive_to_parquet_spark.operators.filters import is_utf8_col
from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.plans.convert import entries_pipeline


def looks_like_html(text_col) -> F.Column:
    """Content sniff on the decoded head: doctype or an <html/<head/
    <body/<title tag within the first 512 chars (case-insensitive)."""
    head = F.lower(F.substring(text_col, 1, 512))
    return (
        head.contains("<!doctype html")
        | head.contains("<html")
        | head.contains("<head")
        | head.contains("<body")
        | head.contains("<title")
    )


def documents_from_entries(entries: DataFrame) -> DataFrame:
    """Entries (source,path,size,hash,content,format) → documents.

    Non-UTF-8 entries drop (codec-requiring media belongs to the
    multimodal path); HTML pages extract to visible text, anything else
    passes through as plain text. doc_id is the first 8 bytes of the
    content sha256 as a signed long — deterministic, collision-safe at
    corpus scale, and independent of row order."""
    text = F.col("content").cast("string")
    is_html = looks_like_html(text)
    body = F.when(is_html, html_to_text(text)).otherwise(F.trim(text))
    return (
        entries.filter(is_utf8_col(F.col("content")))
        .select(
            # 15 hex chars = 60 bits: fits a signed long under ANSI cast
            # (16 chars can exceed 2^63-1), still collision-safe
            F.conv(F.substring(F.hex("hash"), 1, 15), 16, 10)
            .cast("long")
            .alias("doc_id"),
            body.alias("text"),
            F.col("path").alias("url"),
            F.when(is_html, html_title(text)).alias("title"),
            F.col("source"),
        )
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            "text",
            language_id_col("text").alias("lang"),
            "source",
            F.length("text").alias("n_chars"),
            "url",
            "title",
        )
    )


def crawl_to_documents(
    spark: SparkSession,
    inputs: list[str],
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> DataFrame:
    """WARC/archive inputs → documents table, single-stage unless
    ``options.unique`` adds the dedup exchange. The entries pass the
    same refine stage as ``convert`` (include, size, unique) first."""
    return documents_from_entries(
        entries_pipeline(spark, inputs, options, urls=urls)
    )
