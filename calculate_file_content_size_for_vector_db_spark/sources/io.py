"""Sources and sinks.

Reference surface re-expressed (SURVEY.md section 2.1 / 2.10):

- SRC1 recursive directory scan (pdf_reader.py:327-359): ``os.walk`` +
  case-insensitive extension filter + error swallowing on a missing dir.
  Spark-first: one ``binaryFile`` scan gives path, modificationTime,
  length and content in a single distributed read — SRC2's per-file
  ``os.path.getsize`` (pdf_reader.py:377,490) becomes the free ``length``
  column, no extra stat calls.
- F1 extension predicate (pdf_reader.py:343): ``pathGlobFilter`` is
  case-sensitive, so case-insensitivity is a post-filter on
  ``lower(path)`` — still pruned before content is materialized.
- K3 CSV sink (pdf_reader.py:186): one CSV per input folder. At scale a
  single file is an anti-pattern; ``coalesce(1)`` only when the caller
  asks for a literal single file (summary tables are tiny).

At 100 TB: ``binaryFile`` splits per file (PDFs are not splittable
mid-file), so per-file task granularity matches the reference's
process-per-file model but distributes across executors; no driver-side
file listing loop — Spark's InMemoryFileIndex lists in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-materialized fixture table (TESTDATA.md).

    The events table stores TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; read nanos as long and convert to a microsecond
    TimestampType (the fixture's sub-microsecond parts are all zero,
    so the conversion is lossless and matches DuckDB's view).

    The session timezone is pinned to UTC here (runtime-settable SQL
    conf) so timestamp literals and date_format output match DuckDB's
    UTC-naive timestamps even when the caller's session default isn't
    UTC — the driver's own SparkSession is outside our control.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def scan_files(
    spark: SparkSession,
    *dirs: str,
    extension: str = ".pdf",
    with_content: bool = True,
) -> DataFrame:
    """SRC1+SRC2+F1: distributed recursive scan of raw files.

    Returns columns ``path, modificationTime, length`` (+ ``content``
    binary unless pruned). ``extension`` is normalized like the
    reference (pdf_reader.py:332-333: lowercased, dot-prefixed) and
    matched case-insensitively (pdf_reader.py:343).
    """
    ext = _extension(extension)
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(list(dirs))
        .where(F.lower(F.col("path")).endswith(ext))
    )
    if not with_content:
        # P2 content drop (pdf_reader.py:406,463-466): in Spark this is
        # plain column pruning — Catalyst never reads the bytes.
        df = df.select("path", "modificationTime", "length")
    return df


def _extension(extension: str) -> str:
    ext = extension.lower()
    return ext if ext.startswith(".") else "." + ext


def listed_files(files: DataFrame, extension: str = ".pdf") -> list[str]:
    """Every file a ``scan_files`` frame (or a frame built on one) lists
    with ``extension``, zero-byte files included: Spark's file scan
    makes no split for a zero-byte file, so no row of the scan names
    it. Read on the Spark driver from the scan's file index; runs no job."""
    ext = _extension(extension)
    return [p for p in files.inputFiles() if p.lower().endswith(ext)]


def write_csv(df: DataFrame, out_path: str, single_file: bool = True) -> None:
    """K3: CSV sink with header (pdf_reader.py:186)."""
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").option("header", True).csv(out_path)


def compact_parquet(
    spark: SparkSession, path: str, target_rows_per_file: int = 1_000_000
) -> int:
    """Small-files compaction: rewrite a parquet location into
    ceil(rows / target) files. The operational chore every
    streaming/incremental sink accumulates (thousands of tiny
    microbatch files destroy scan planning at scale).

    Reads, repartitions, writes to a sibling temp dir, then swaps —
    never overwrites the files it is still reading. Returns the new
    file count."""
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files
