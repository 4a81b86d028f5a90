"""PDF extraction plumbing tests (SRC3): generated PDF round-trip."""

from calculate_file_content_size_for_vector_db_spark.sources.extract import (
    extract_pages,
    extract_pdf_text,
    make_simple_pdf,
)


def test_roundtrip_local():
    pages = ["hello world page one", "page two (with parens) and \\backslash"]
    data = make_simple_pdf(pages)
    assert data.startswith(b"%PDF-")
    assert extract_pdf_text(data) == pages


def test_distributed_extraction(spark):
    rows = [
        ("a.pdf", make_simple_pdf(["alpha", "beta"])),
        ("b.pdf", make_simple_pdf(["gamma"])),
    ]
    files = spark.createDataFrame(rows, "path string, content binary")
    out = {
        (r.path, r.page_number): (r.page_text, r.n_pages)
        for r in extract_pages(files).collect()
    }
    assert out[("a.pdf", 0)] == ("alpha", 2)
    assert out[("a.pdf", 1)] == ("beta", 2)
    assert out[("b.pdf", 0)] == ("gamma", 1)


# Hand-written golden PDF bytes, NOT produced by make_simple_pdf — the
# round-trip tests above can stay green if the generator and the parser
# drift together; this fixture pins the parser to the PDF grammar
# itself. Exercises: several Tj runs in one stream, escaped parens and
# backslashes, and CRLF after the `stream` keyword.
GOLDEN_PDF = (
    b"%PDF-1.4\n"
    b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\nendobj\n"
    b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    b"4 0 obj\n<< /Length 62 >>\nstream\r\n"
    b"BT /F1 12 Tf (first run) Tj 0 -14 Td (second \\(run\\)) Tj ET\n"
    b"endstream\nendobj\n"
    b"5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
    b"6 0 obj\n<< /Length 44 >>\nstream\n"
    b"BT (back\\\\slash) Tj (tail) Tj ET\n"
    b"endstream\nendobj\n"
    b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
)


def test_golden_pdf_fixture_fallback_parser():
    pages = extract_pdf_text(GOLDEN_PDF)
    assert pages == ["first run second (run)", "back\\slash tail"]


def test_golden_pdf_fixture_distributed(spark):
    files = spark.createDataFrame(
        [("golden.pdf", GOLDEN_PDF)], "path string, content binary"
    )
    rows = sorted(
        (r.page_number, r.page_text, r.n_pages, r.file_size)
        for r in extract_pages(files).collect()
    )
    assert rows == [
        (0, "first run second (run)", 2, len(GOLDEN_PDF)),
        (1, "back\\slash tail", 2, len(GOLDEN_PDF)),
    ]


def test_corrupt_pdf_among_good_files(spark):
    # a corrupt/truncated payload must not fail the job: it simply
    # contributes zero page rows while good files extract normally
    rows = [
        ("good.pdf", make_simple_pdf(["fine text"])),
        ("corrupt.pdf", b"%PDF-1.4\ngarbage \xff\xfe truncated"),
        ("empty.pdf", b""),
    ]
    files = spark.createDataFrame(rows, "path string, content binary")
    out = extract_pages(files).collect()
    assert {r.path for r in out} == {"good.pdf"}
    assert out[0].page_text == "fine text"


def test_extract_sizes_matches_pages_then_chunk_recursive(spark):
    """The one-pass size rows equal extract_pages, then chunk_recursive
    on page_text, then preprocess_text on each chunk, summed per file
    by a groupBy: golden bytes, a multi-page file with a page far over
    chunk_size (and one unbroken run that falls back to the character
    separator), with overlap and without. Corrupt and empty files have
    no pages, so they are size rows marked unreadable."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.functions.text import preprocess_text
    from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_recursive
    from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_sizes

    long_page = " ".join(f"word{i}" for i in range(120)) + "\n\nnext Para \\u00e9 " + "X" * 90
    rows = [
        ("golden.pdf", GOLDEN_PDF),
        ("multi.pdf", make_simple_pdf(["short", long_page, "", "tail page"])),
        ("corrupt.pdf", b"%PDF-1.4\ngarbage \xff\xfe truncated"),
        ("empty.pdf", b""),
    ]
    files = spark.createDataFrame(rows, "path string, content binary")
    for size, overlap in [(40, 10), (64, 0)]:
        got = {r.path: tuple(r)[1:] for r in extract_sizes(files, size, overlap).collect()}
        staged = (
            chunk_recursive(
                extract_pages(files),
                size,
                overlap,
                text_col="page_text",
                keep_cols=["path", "n_pages", "file_size"],
            )
            .groupBy("path")
            .agg(
                F.first("n_pages"),
                F.first("file_size"),
                F.count("*"),
                F.sum(F.length(preprocess_text("chunk_text"))),
            )
        )
        want = {p: (*rest, "ok", None) for p, *rest in staged.collect()}
        want["corrupt.pdf"] = (0, len(rows[2][1]), 0, 0, "unreadable", "no pages")
        want["empty.pdf"] = (0, 0, 0, 0, "unreadable", "no pages")
        assert got == want, (size, overlap)
        assert got["multi.pdf"][2] > 4


def test_extract_sizes_accounts_for_every_file(spark):
    """One row per input file, and no file fails the job: NULL content,
    a file that parses to zero pages and a non-PDF are unreadable; a
    PDF whose pages hold no text is a readable row with no text."""
    from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_sizes

    rows = [
        ("good.pdf", make_simple_pdf(["fine text"])),
        ("null.pdf", None),
        ("no_pages.pdf", b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF\n"),
        ("not_a.pdf", b"JUNK, not a pdf"),
        ("textless.pdf", make_simple_pdf(["", ""])),
    ]
    files = spark.createDataFrame(rows, "path string, content binary")
    got = {r.path: tuple(r)[1:] for r in extract_sizes(files, 50).collect()}
    size = {p: len(c or b"") for p, c in rows}
    assert got == {
        "good.pdf": (1, size["good.pdf"], 1, 9, "ok", None),
        "null.pdf": (0, 0, 0, 0, "unreadable", "NULL content"),
        "no_pages.pdf": (0, size["no_pages.pdf"], 0, 0, "unreadable", "no pages"),
        "not_a.pdf": (0, size["not_a.pdf"], 0, 0, "unreadable", "no pages"),
        "textless.pdf": (2, size["textless.pdf"], 0, 0, "ok", None),
    }


def test_parser_error_reads_as_unreadable_not_a_failure(monkeypatch):
    from calculate_file_content_size_for_vector_db_spark.sources import extract

    def boom(data: bytes) -> list[str]:
        raise ValueError("broken xref")

    monkeypatch.setattr(extract, "extract_pdf_text", boom)
    data = make_simple_pdf(["fine text"])
    assert extract._read(data) == ([], len(data), "ValueError: broken xref")
