"""End-to-end pipelines — the reference's three entry points (SURVEY.md
section 3) re-expressed as lazy DataFrame graphs.

Reference lifecycle (pdf_reader.py:505-546): scan -> sort-by-size ->
process pool -> per-file record list -> driver-side accumulate/print.

Two input modes:
- ``DocumentPipeline`` — the fixture/`documents`-table mode: text is
  already extracted (the `documents` parquet stands in for
  post-extraction PDF text, FIXTURES.md A). scan -> chunk -> window ->
  agg -> rollup, one action at the sink; the per-doc agg and the rollup
  are its shuffles.
- ``pdf_size_report`` + ``size_table`` — the CLI's mode. The first is a
  binaryFile scan of one folder and one Python pass that emits a row
  per file (``sources.extract.extract_sizes``; pypdf is an optional
  dependency): one stage, no shuffle. The second adds SUM TOTAL to
  those rows once they are on the Spark driver, which the CLI needs anyway
  to print them.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.functions.text import basename, preprocess_text
from calculate_file_content_size_for_vector_db_spark.operators import chunk as chunk_ops
from calculate_file_content_size_for_vector_db_spark.operators import metrics
from calculate_file_content_size_for_vector_db_spark.sources.extract import OK, extract_sizes
from calculate_file_content_size_for_vector_db_spark.sources.io import read_table, scan_files


@dataclass
class DocumentPipeline:
    """process_files analog (pdf_reader.py:505-546) over a documents
    table with columns (doc_id, text, n_chars, ...).

    chunk_size default matches the reference (1200, pdf_reader.py:506);
    fixture queries use 100 so the ~100-500 char synthetic docs actually
    produce multiple chunks.
    """

    spark: SparkSession
    chunk_size: int = chunk_ops.DEFAULT_CHUNK_SIZE
    chunk_overlap: int = 0
    recursive: bool = False

    def chunks(self, docs: DataFrame) -> DataFrame:
        """Chunk table: doc_id, chunk_index, start_index, chunk_text
        (raw), content (processed, Q3), chunk_length (processed length),
        chunk_offset_in_file (W1)."""
        from calculate_file_content_size_for_vector_db_spark.partitioning import spread

        docs = spread(docs)
        if self.recursive:
            chunked = chunk_ops.chunk_recursive(
                docs, self.chunk_size, self.chunk_overlap, keep_cols=["doc_id"]
            )
        else:
            chunked = chunk_ops.chunk_fixed(docs, self.chunk_size, keep_cols=["doc_id"])
        chunked = chunked.withColumn("content", preprocess_text("chunk_text")).withColumn(
            "chunk_length", F.length("content").cast("int")
        )
        return metrics.running_offset(chunked)

    def per_file(self, docs: DataFrame) -> DataFrame:
        """Per-doc metrics: chunks, text_size, ratio (P3/A1-A3)."""
        stats = metrics.chunk_aggregates(self.chunks(docs))
        files = docs.select("doc_id", F.col("n_chars").alias("file_size"))
        joined = metrics.file_chunk_join(files, stats)
        return joined.withColumn("ratio", metrics.ratio("file_size", "text_size"))

    def summary(self, docs: DataFrame) -> DataFrame:
        """Rollup: one row per doc + SUM TOTAL (README.md:17-27 table)."""
        per = self.per_file(docs).withColumn("filename", F.col("doc_id").cast("string"))
        return metrics.rollup_summary(per)

    def process(self, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Library entry point analog (pdf_reader.py:320-326): returns
        (files, chunks, summary) as DataFrames instead of dict lists."""
        docs = read_table(self.spark, sf_dir, "documents")
        return self.per_file(docs), self.chunks(docs), self.summary(docs)


# the report table's integer columns, in CSV order around ratio
_TABLE_COUNTS = ["file_size", "text_size", "chunks", "files_unreadable", "bytes_unreadable"]


def pdf_size_report(
    spark: SparkSession,
    folder: str,
    chunk_size: int = chunk_ops.DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = 0,
    file_type: str = ".pdf",
) -> DataFrame:
    """The reference's process_files (pdf_reader.py:505-546) over one
    folder of files, one row per listed file: path, pages, file_size,
    chunks, text_size, status (``ok`` or ``unreadable``), error (why a
    file is unreadable), ratio (2 decimals) and filename. Raises at once when the folder is
    missing (the scan lists files eagerly); nothing else runs until an
    action.
    """
    files = scan_files(spark, folder, extension=file_type)
    return (
        extract_sizes(files, chunk_size, chunk_overlap)
        .withColumn("ratio", metrics.ratio("file_size", "text_size", 2))
        .withColumn("filename", basename("path"))
    )


def size_table(spark: SparkSession, per_file: list[Row], listed: int) -> DataFrame:
    """The report table over the collected ``pdf_size_report`` rows of a
    folder that lists ``listed`` files (``sources.io.listed_files``):
    filename, file_size, text_size, chunks, ratio, files_unreadable,
    bytes_unreadable.

    One row per readable file, then SUM TOTAL, whose sums are exact
    integer sums over the readable files (Q7: its ratio is a ratio of
    sums). Unreadable files are not listed; SUM TOTAL counts them and
    their bytes in the last two columns, which are NULL on file rows.
    The count includes zero-byte files, which have no row. No SUM TOTAL
    when the folder lists no file. The frame is a local relation, so
    reading it runs no Spark job; the ratios are Spark's own rounding,
    as in ``metrics.rollup_summary``.
    """
    readable = [r for r in per_file if r.status == OK]
    unreadable = [r for r in per_file if r.status != OK]
    rows = [(r.path, r.file_size, r.text_size, r.chunks, None, None) for r in readable]
    if listed:
        rows.append(
            (
                # the label has no "/", so basename keeps it as it is
                metrics.SUM_TOTAL_LABEL,
                sum(r.file_size for r in readable),
                sum(r.text_size for r in readable),
                sum(r.chunks for r in readable),
                listed - len(readable),
                sum(r.file_size for r in unreadable),
            )
        )
    pdf = pd.DataFrame(rows, columns=["path", *_TABLE_COUNTS])
    table = spark.createDataFrame(
        pdf.astype({c: "Int64" for c in _TABLE_COUNTS}),
        "path string, " + ", ".join(f"{c} long" for c in _TABLE_COUNTS),
    )
    return table.select(
        basename("path").alias("filename"),
        "file_size",
        "text_size",
        "chunks",
        metrics.ratio("file_size", "text_size").alias("ratio"),
        "files_unreadable",
        "bytes_unreadable",
    )
