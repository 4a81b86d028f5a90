"""CLI — the reference's entry point (pdf_reader.py:621-666) on Spark.

Usage parity with `python pdf_reader.py <dir>... <n> [--print_metadata]`:

    python -m calculate_file_content_size_for_vector_db_spark <dir>... [--parallelism N]
        [--file-type .pdf] [--chunk-size 1200] [--chunk-overlap 0]
        [--print-metadata]

Differences (documented, SURVEY.md section 1.3):
- the reference's trailing positional thread count (pdf_reader.py:276)
  becomes --parallelism (Spark parallelism comes from partitions; the
  knob only sets local[] width when no session exists yet);
- zero-text corpora print a NULL ratio instead of crashing (Q2), and a
  folder with no readable file prints a line saying so and the run goes
  on to the next folder;
- files are reported by path, so same-named files in different
  subfolders stay separate rows (the table shows their basenames);
- output CSV is written per input folder, filename derived by the same
  sanitization rule (pdf_reader.py:195-215).
"""

from __future__ import annotations

import argparse
import re
import sys
import time

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F


def folder_to_csv_name(path: str) -> str:
    """S9 (pdf_reader.py:195-215): sanitize a folder path into a csv
    file name; empty result falls back to 'folder'."""
    name = re.sub(r"[^\w\-]", "_", path).lstrip("-_")
    return (name or "folder") + ".csv"


def _ratio(r: float | None) -> str:
    return "n/a" if r is None else f"{r:,.2f}"


def _report_folder(spark: SparkSession, folder: str, args: argparse.Namespace) -> list[Row]:
    """Print one folder's table, write its CSV, return the summary rows."""
    from calculate_file_content_size_for_vector_db_spark.plans.pipeline import pdf_size_report
    from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached
    from calculate_file_content_size_for_vector_db_spark.sources.io import write_csv

    t0 = time.time()
    report = pdf_size_report(spark, folder, args.chunk_size, args.chunk_overlap, args.file_type)
    # cache the one frame read more than once: the per-file rows when
    # the console reads them too (the summary is a small rollup over
    # them), else the summary (read by the table and the CSV)
    reads_per_file = args.progress or args.print_metadata
    with cache_scope(spark):
        cached(report.per_file if reads_per_file else report.summary)
        if args.progress:
            # stream per-file rows to the console as partitions finish
            # (completion order, like the reference's pool workers)
            for r in report.per_file.toLocalIterator():
                print(
                    f"done {r.filename}: pages={r.pages:,} chunks={r.chunks:,} "
                    f"file_size={r.file_size:,} text_size={r.text_size:,} "
                    f"ratio={_ratio(r.ratio)}"
                )
        rows = sorted(report.summary.collect(), key=lambda r: -r.file_size)
        if args.print_metadata:
            for r in report.per_file.select(F.to_json(F.struct("*")).alias("j")).collect():
                print(r.j)
        wall = time.time() - t0
        print(f"== {folder} ({wall:.2f}s) ==")
        header = f"{'Filename':40} {'Chunks':>8} {'File Size':>14} {'Text Size':>14} {'Ratio':>8}"
        print(header)
        print("-" * len(header))
        for r in rows:
            print(
                f"{r.filename:40} {r.chunks:>8,} {r.file_size:>14,} "
                f"{r.text_size:>14,} {_ratio(r.ratio):>8}"
            )
        write_csv(report.summary, f"{args.output_dir}/{folder_to_csv_name(folder)}.d")
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="calculate_file_content_size_for_vector_db_spark")
    ap.add_argument("folders", nargs="+", help="input folders of PDF files")
    ap.add_argument("--parallelism", type=int, default=32)
    ap.add_argument("--file-type", default=".pdf")
    ap.add_argument("--chunk-size", type=int, default=1200)
    ap.add_argument("--chunk-overlap", type=int, default=0)
    ap.add_argument("--print-metadata", action="store_true")
    ap.add_argument(
        "--progress",
        action="store_true",
        help="print each file's row as it completes (K1, pdf_reader.py:592-614); "
        "rows arrive in task-completion order, and the reference's per-file "
        "seconds column is omitted (a task parses a whole batch of files, so "
        "no per-file timer exists)",
    )
    ap.add_argument("--output-dir", default=".")
    args = ap.parse_args(argv)

    from calculate_file_content_size_for_vector_db_spark.operators.metrics import SUM_TOTAL_LABEL
    from calculate_file_content_size_for_vector_db_spark.session import get_spark

    spark = get_spark(app_name="content-sizer-cli", cpus=args.parallelism)

    for folder in args.folders:
        # the reference swallows missing-dir/permission errors per
        # folder and moves on (pdf_reader.py:349-359); a missing folder
        # raises at the scan, an unreadable file at the first action
        try:
            rows = _report_folder(spark, folder, args)
        except Exception as e:  # noqa: BLE001
            print(f"== {folder}: skipped ({type(e).__name__}: {str(e).splitlines()[0]})")
            continue
        total = next((r for r in rows if r.filename == SUM_TOTAL_LABEL), None)
        if total is None:
            # rollup over zero files yields no SUM TOTAL row
            print(f"No readable {args.file_type} files in {folder}.")
        elif total.ratio:
            print(
                f"Estimate: 100 GB of files would extract to "
                f"~{100.0 / total.ratio:.1f} GB of text."
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
