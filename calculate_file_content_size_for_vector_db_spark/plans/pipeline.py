"""End-to-end pipelines — the reference's three entry points (SURVEY.md
section 3) re-expressed as lazy DataFrame graphs.

Reference lifecycle (pdf_reader.py:505-546): scan -> sort-by-size ->
process pool -> per-file record list -> driver-side accumulate/print.
Spark lifecycle: scan -> extract -> chunk -> window -> agg -> rollup,
one action at the sink; Catalyst fuses the narrow stages, the per-doc
agg is the only shuffle.

Two input modes:
- ``DocumentPipeline`` — the fixture/`documents`-table mode: text is
  already extracted (the `documents` parquet stands in for
  post-extraction PDF text, FIXTURES.md A).
- ``pdf_size_report`` — the CLI's mode: binaryFile scan of one folder,
  then one fused extract + split pass (``sources.extract.extract_chunks``;
  pypdf is an optional dependency).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.functions.text import basename, preprocess_text
from calculate_file_content_size_for_vector_db_spark.operators import chunk as chunk_ops
from calculate_file_content_size_for_vector_db_spark.operators import metrics
from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_chunks
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


@dataclass
class SizeReport:
    """One folder's size report, lazily built.

    - ``per_file``: path, pages, file_size, chunks, text_size, ratio
      (2 decimals), filename.
    - ``summary``: the CSV table (filename, file_size, text_size, chunks,
      ratio) with one row per file plus SUM TOTAL, built on ``per_file``.
      It rolls up on ``path``, so same-named files in different
      subfolders stay separate rows.

    Each action recomputes from the scan; a caller that reads a frame
    more than once caches it (the CLI does, in one ``cache_scope`` per
    folder).
    """

    per_file: DataFrame
    summary: DataFrame


def pdf_size_report(
    spark: SparkSession,
    folder: str,
    chunk_size: int = chunk_ops.DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = 0,
    file_type: str = ".pdf",
) -> SizeReport:
    """The reference's process_files (pdf_reader.py:505-546) over one
    folder of files: scan -> fused extract + split -> preprocess ->
    per-file agg -> rollup. Raises at once when the folder is missing
    (the scan lists files eagerly); nothing else runs until an action.
    """
    files = scan_files(spark, folder, extension=file_type)
    chunked = extract_chunks(files, chunk_size, chunk_overlap).withColumn(
        "chunk_length", F.length(preprocess_text("chunk_text")).cast("int")
    )
    per_file = (
        chunked.groupBy("path")
        .agg(
            F.first("n_pages").alias("pages"),
            F.first("file_size").alias("file_size"),
            F.count("*").alias("chunks"),
            F.sum("chunk_length").cast("long").alias("text_size"),
        )
        .withColumn("ratio", metrics.ratio("file_size", "text_size", 2))
        .withColumn("filename", basename("path"))
    )
    # the SUM TOTAL label has no "/", so basename keeps it as it is
    summary = metrics.rollup_summary(per_file, name_col="path").select(
        basename("path").alias("filename"), "file_size", "text_size", "chunks", "ratio"
    )
    return SizeReport(per_file, summary)
