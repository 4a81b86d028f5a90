"""CLI — the reference's entry point (pdf_reader.py:621-666) on Spark.

Usage parity with `python pdf_reader.py <dir>... <n> [--print_metadata]`:

    python -m calculate_file_content_size_for_vector_db_spark <dir>... [--parallelism N]
        [--file-type .pdf] [--chunk-size 1200] [--chunk-overlap 0]
        [--print-metadata]

Differences (documented, SURVEY.md section 1.3):
- the reference's trailing positional thread count (pdf_reader.py:276)
  becomes --parallelism (Spark parallelism comes from partitions; the
  knob only sets local[] width when no session exists yet);
- zero-text files and corpora print a NULL ratio instead of crashing
  (Q2), and a folder with no readable file prints a line saying so and
  the run goes on to the next folder;
- a file that cannot be read (not a PDF, no pages, zero bytes, a parser
  error) is not listed and fails nothing: SUM TOTAL counts such files and their
  bytes in two extra columns, and the console prints both after the
  table. SUM TOTAL's other sums cover the readable files only;
- files are reported by path, so same-named files in different
  subfolders stay separate rows (the table shows their basenames);
- output CSV is written per input folder, filename derived by the same
  sanitization rule (pdf_reader.py:195-215). Its columns: filename,
  file_size, text_size, chunks, ratio, files_unreadable and
  bytes_unreadable (the last two set on SUM TOTAL only).

One folder is one Python pass over its files (a Spark job) and one CSV
write (a second job); SUM TOTAL is summed on the Spark driver from the
per-file rows the console prints.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time

from pyspark.sql import Row, SparkSession


def folder_to_csv_name(path: str) -> str:
    """S9 (pdf_reader.py:195-215): sanitize a folder path into a csv
    file name; empty result falls back to 'folder'."""
    name = re.sub(r"[^\w\-]", "_", path).lstrip("-_")
    return (name or "folder") + ".csv"


def _ratio(r: float | None) -> str:
    return "n/a" if r is None else f"{r:,.2f}"


def _json(r: Row) -> str:
    """One row as Spark's ``to_json`` writes it: compact, NULL fields
    omitted."""
    fields = {k: v for k, v in r.asDict().items() if v is not None}
    return json.dumps(fields, separators=(",", ":"), ensure_ascii=False)


def _report_folder(spark: SparkSession, folder: str, args: argparse.Namespace) -> None:
    """Print one folder's table and write its CSV. Each file is parsed
    once: the per-file rows come to the Spark driver in one pass, and the
    table is built from them there."""
    from calculate_file_content_size_for_vector_db_spark.operators.metrics import SUM_TOTAL_LABEL
    from calculate_file_content_size_for_vector_db_spark.plans.pipeline import (
        pdf_size_report,
        size_table,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import listed_files, write_csv

    t0 = time.time()
    per_file = pdf_size_report(spark, folder, args.chunk_size, args.chunk_overlap, args.file_type)
    files = []
    # --progress streams the rows partition by partition, one job each;
    # the next partition's job runs while the current one's rows print
    if args.progress:
        stream = per_file.toLocalIterator(prefetchPartitions=True)
    else:
        stream = per_file.collect()
    for r in stream:
        files.append(r)
        if args.progress:
            print(
                f"done {r.filename}: pages={r.pages:,} chunks={r.chunks:,} "
                f"file_size={r.file_size:,} text_size={r.text_size:,} "
                f"ratio={_ratio(r.ratio)} status={r.status}"
            )
    if args.print_metadata:
        for r in files:
            print(_json(r))
    table = size_table(spark, files, len(listed_files(per_file, args.file_type)))
    rows = sorted(table.collect(), key=lambda r: -r.file_size)
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
    write_csv(table, f"{args.output_dir}/{folder_to_csv_name(folder)}.d")
    total = next((r for r in rows if r.filename == SUM_TOTAL_LABEL), None)
    if total is not None:
        print(
            f"Unreadable: {total.files_unreadable:,} files, "
            f"{total.bytes_unreadable:,} bytes (not in the sums above)"
        )
    if len(rows) < 2:
        # no row besides SUM TOTAL: every file was unreadable, or none listed
        print(f"No readable {args.file_type} files in {folder}.")
    elif total.ratio:
        print(f"Estimate: 100 GB of files would extract to ~{100.0 / total.ratio:.1f} GB of text.")


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
        "rows arrive partition by partition, and the reference's per-file "
        "seconds column is omitted (a task parses a whole batch of files, so "
        "no per-file timer exists)",
    )
    ap.add_argument("--output-dir", default=".")
    args = ap.parse_args(argv)

    from calculate_file_content_size_for_vector_db_spark.session import get_spark

    spark = get_spark(app_name="content-sizer-cli", cpus=args.parallelism)

    for folder in args.folders:
        # the reference swallows missing-dir/permission errors per
        # folder and moves on (pdf_reader.py:349-359); a missing folder
        # raises at the scan, an unreadable file at the first action
        try:
            _report_folder(spark, folder, args)
        except Exception as e:  # noqa: BLE001
            print(f"== {folder}: skipped ({type(e).__name__}: {str(e).splitlines()[0]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
