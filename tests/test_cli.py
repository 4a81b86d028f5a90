"""End-to-end CLI test: generate a folder of PDFs, run the CLI main,
check console table + CSV output (the reference's section 3.1 flow)."""

import csv
import glob
import os

from calculate_file_content_size_for_vector_db_spark.cli import folder_to_csv_name, main
from calculate_file_content_size_for_vector_db_spark.functions.text import preprocess_str
from calculate_file_content_size_for_vector_db_spark.operators.chunk import split_text_recursive
from calculate_file_content_size_for_vector_db_spark.operators.metrics import SUM_TOTAL_LABEL
from calculate_file_content_size_for_vector_db_spark.plans import pipeline
from calculate_file_content_size_for_vector_db_spark.plans.pipeline import pdf_size_report
from calculate_file_content_size_for_vector_db_spark.sources.extract import make_simple_pdf
from tests.conftest import cached_plan_count, persistent_rdd_ids

COLUMNS = [
    "filename", "file_size", "text_size", "chunks", "ratio", "files_unreadable", "bytes_unreadable"
]


def _csv_rows(out_dir, folder) -> list[dict]:
    (part,) = glob.glob(str(out_dir / (folder_to_csv_name(str(folder)) + ".d") / "part-*.csv"))
    with open(part, newline="") as f:
        return list(csv.DictReader(f))


def _write_pdfs(root, files: dict[str, list[str]]) -> None:
    for rel, pages in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_bytes(make_simple_pdf(pages))


def test_folder_to_csv_name():
    assert folder_to_csv_name("/data/my docs!") == "data_my_docs_.csv"
    assert folder_to_csv_name("---") == "folder.csv"


def test_cli_end_to_end(spark, tmp_path, capsys):
    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    (pdf_dir / "a.pdf").write_bytes(make_simple_pdf(["hello world " * 30, "page two"]))
    (pdf_dir / "b.PDF").write_bytes(make_simple_pdf(["short doc"]))
    (pdf_dir / "ignore.txt").write_bytes(b"not a pdf")

    out_dir = tmp_path / "out"
    out_dir.mkdir()
    before = persistent_rdd_ids(spark)
    entries = cached_plan_count(spark)
    rc = main([str(pdf_dir), "--chunk-size", "50", "--output-dir", str(out_dir)])
    assert rc == 0
    # main() releases what it caches. Compare ids, not counts: Spark's
    # cleaner may drop RDDs an earlier test left persisted meanwhile.
    assert persistent_rdd_ids(spark) <= before
    assert cached_plan_count(spark) == entries
    printed = capsys.readouterr().out
    assert "a.pdf" in printed and "b.PDF" in printed
    assert "ignore.txt" not in printed  # extension filter (case-insensitive)
    assert "SUM TOTAL" in printed
    assert "Estimate: 100 GB" in printed

    csv_dirs = [p for p in os.listdir(out_dir) if p.endswith(".csv.d")]
    assert len(csv_dirs) == 1
    csv_df = spark.read.option("header", True).csv(str(out_dir / csv_dirs[0]))
    assert csv_df.count() == 3  # 2 files + SUM TOTAL


def test_cli_progress_streams_per_file_rows(spark, spark_stages, tmp_path, capsys):
    pdf_dir = tmp_path / "pdfs_p"
    pdf_dir.mkdir()
    (pdf_dir / "x.pdf").write_bytes(make_simple_pdf(["alpha beta " * 20]))
    (pdf_dir / "y.pdf").write_bytes(make_simple_pdf(["gamma delta"]))
    out_dir = tmp_path / "out_p"
    out_dir.mkdir()
    before = persistent_rdd_ids(spark)
    entries = cached_plan_count(spark)
    args = [str(pdf_dir), "--chunk-size", "40", "--output-dir", str(out_dir)]
    rc = []
    run = [*args, "--progress", "--print-metadata"]
    jobs, stages, tasks = spark_stages(lambda: rc.append(main(run)))
    assert rc == [0]
    # each file is parsed once: one task per scan partition, then the
    # CSV write; no stage re-reads a file
    partitions = pdf_size_report(spark, str(pdf_dir)).rdd.getNumPartitions()
    assert stages == jobs
    assert tasks == partitions + 1
    # main() releases what it caches. Compare ids, not counts: Spark's
    # cleaner may drop RDDs an earlier test left persisted meanwhile.
    assert persistent_rdd_ids(spark) <= before
    assert cached_plan_count(spark) == entries
    printed = capsys.readouterr().out
    # one 'done <file>' line per input file, before the summary table
    assert printed.count("done x.pdf:") == 1
    assert printed.count("done y.pdf:") == 1
    assert printed.index("done x.pdf:") < printed.index("SUM TOTAL")
    assert printed.count('"filename":"x.pdf"') == 1  # --print-metadata JSON row


def test_cli_csv_matches_python_recomputation(tmp_path, capsys):
    """Every CSV row's (file_size, chunks, text_size) equals a pure-Python
    recompute: split each page, preprocess each chunk, sum lengths."""
    pdf_dir = tmp_path / "docs"
    pages = {
        "a.pdf": ["Alpha Beta\n\n\nGamma " * 12, "second \\u00e9 page " * 9],
        "sub/b.pdf": ["one\ntwo three " * 20],
        "sub/deeper/c.pdf": ["x" * 130, "tail"],
    }
    _write_pdfs(pdf_dir, pages)
    out_dir = tmp_path / "out"
    assert main([str(pdf_dir), "--chunk-size", "60", "--output-dir", str(out_dir)]) == 0
    capsys.readouterr()
    got = {
        r["filename"]: (int(r["file_size"]), int(r["chunks"]), int(r["text_size"]))
        for r in _csv_rows(out_dir, pdf_dir)
    }
    want = {}
    for rel, texts in pages.items():
        chunks = [c for t in texts for c in split_text_recursive(t, 60, 0)]
        size = len(make_simple_pdf(texts))
        text_size = sum(len(preprocess_str(c)) for c in chunks)
        want[os.path.basename(rel)] = (size, len(chunks), text_size)
    want[SUM_TOTAL_LABEL] = tuple(sum(v[i] for v in want.values()) for i in range(3))
    assert got == want


def test_cli_same_basename_in_two_subfolders_stays_two_rows(tmp_path, capsys):
    pdf_dir = tmp_path / "dup"
    _write_pdfs(
        pdf_dir, {"a/report.pdf": ["short text"], "b/report.pdf": ["much longer text " * 10]}
    )
    out_dir = tmp_path / "out"
    assert main([str(pdf_dir), "--chunk-size", "50", "--output-dir", str(out_dir)]) == 0
    table = [l for l in capsys.readouterr().out.splitlines() if l.startswith("report.pdf")]
    assert len(table) == 2
    rows = _csv_rows(out_dir, pdf_dir)
    assert list(rows[0]) == COLUMNS
    files = sorted(int(r["chunks"]) for r in rows if r["filename"] == "report.pdf")
    assert files == [1, 4]
    (total,) = [r for r in rows if r["filename"] == SUM_TOTAL_LABEL]
    assert int(total["chunks"]) == 5


def test_cli_unreadable_folders_do_not_stop_later_folders(tmp_path, capsys, monkeypatch):
    empty = tmp_path / "empty"
    empty.mkdir()
    junk = tmp_path / "junk"
    junk.mkdir()
    (junk / "fake.pdf").write_bytes(b"JUNK, not a pdf")
    gone = tmp_path / "gone"
    _write_pdfs(gone, {"deleted.pdf": ["listed, then deleted before it is read"]})
    good = tmp_path / "good"
    _write_pdfs(good, {"g.pdf": ["fine text " * 10]})

    # a file that disappears between the listing and the read fails the
    # first action, not the scan
    listed_report = pipeline.pdf_size_report

    def delete_after_listing(spark, folder, *args):
        report = listed_report(spark, folder, *args)
        if folder == str(gone):
            (gone / "deleted.pdf").unlink()
        return report

    monkeypatch.setattr(pipeline, "pdf_size_report", delete_after_listing)
    out_dir = tmp_path / "out"
    folders = [str(empty), str(junk), str(gone), str(good)]
    assert main([*folders, "--chunk-size", "50", "--output-dir", str(out_dir)]) == 0
    printed = capsys.readouterr().out
    assert f"No readable .pdf files in {empty}." in printed
    assert f"No readable .pdf files in {junk}." in printed
    assert f"== {gone}: skipped (" in printed
    # junk and good print a SUM TOTAL; junk's counts only its unreadable file
    assert sum(l.startswith(SUM_TOTAL_LABEL) for l in printed.splitlines()) == 2
    assert _csv_rows(out_dir, empty) == []
    (junk_total,) = _csv_rows(out_dir, junk)
    assert junk_total == {
        "filename": SUM_TOTAL_LABEL, "file_size": "0", "text_size": "0", "chunks": "0",
        "ratio": "", "files_unreadable": "1", "bytes_unreadable": str(len(b"JUNK, not a pdf")),
    }
    assert {r["filename"] for r in _csv_rows(out_dir, good)} == {"g.pdf", SUM_TOTAL_LABEL}


def test_cli_lists_textless_pdfs_and_counts_unreadable_files(tmp_path, capsys):
    """A PDF with pages but no text is a row with text_size 0 and no
    ratio; files that cannot be read are not rows but are counted, with
    their bytes, on SUM TOTAL, whose other sums stay readable-only."""
    pdf_dir = tmp_path / "mixed"
    _write_pdfs(pdf_dir, {"text.pdf": ["some words here"], "blank.pdf": ["", ""]})
    (pdf_dir / "junk.pdf").write_bytes(b"JUNK" * 10)
    (pdf_dir / "empty.pdf").write_bytes(b"")
    out_dir = tmp_path / "out"
    assert main([str(pdf_dir), "--chunk-size", "50", "--output-dir", str(out_dir)]) == 0
    printed = capsys.readouterr().out
    assert "Unreadable: 2 files, 40 bytes" in printed
    rows = {r["filename"]: r for r in _csv_rows(out_dir, pdf_dir)}
    assert set(rows) == {"text.pdf", "blank.pdf", SUM_TOTAL_LABEL}
    blank, text, total = rows["blank.pdf"], rows["text.pdf"], rows[SUM_TOTAL_LABEL]
    assert (blank["chunks"], blank["text_size"], blank["ratio"]) == ("0", "0", "")
    assert blank["files_unreadable"] == blank["bytes_unreadable"] == ""
    assert int(total["file_size"]) == int(blank["file_size"]) + int(text["file_size"])
    assert (total["text_size"], total["chunks"]) == ("15", "1")
    assert (total["files_unreadable"], total["bytes_unreadable"]) == ("2", "40")


def test_cli_folder_run_takes_two_jobs_and_no_shuffle(spark_stages, tmp_path, capsys):
    """A default folder run is one Python pass over the files and one
    CSV write: at most two jobs, one stage each, so nothing shuffles and
    nothing is read twice."""
    pdf_dir = tmp_path / "plan"
    _write_pdfs(
        pdf_dir, {"p.pdf": ["some text " * 30, "more"], "q.pdf": ["q"], "sub/r.pdf": ["r " * 90]}
    )
    (pdf_dir / "junk.pdf").write_bytes(b"JUNK")
    out_dir = tmp_path / "out"
    rc = []
    jobs, stages, _ = spark_stages(
        lambda: rc.append(main([str(pdf_dir), "--chunk-size", "50", "--output-dir", str(out_dir)]))
    )
    assert rc == [0]
    assert len(_csv_rows(out_dir, pdf_dir)) == 4
    assert jobs <= 2
    assert stages == jobs


def test_compact_parquet_reduces_files(spark, tmp_path):
    from calculate_file_content_size_for_vector_db_spark.sources.io import compact_parquet

    d = str(tmp_path / "frag")
    df = spark.range(1000).withColumnRenamed("id", "k")
    df.repartition(40).write.mode("overwrite").parquet(d)
    import os

    before = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(before) == 40
    n_files = compact_parquet(spark, d, target_rows_per_file=500)
    after = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert n_files == 2 and len(after) == 2
    assert spark.read.parquet(d).count() == 1000
    assert {r.k for r in spark.read.parquet(d).collect()} == set(range(1000))
