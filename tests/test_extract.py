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


def test_extract_chunks_matches_pages_then_chunk_recursive(spark):
    """The fused extract + split pass emits exactly the chunk rows of
    extract_pages followed by chunk_recursive on page_text: golden
    bytes, corrupt/empty files, a multi-page file with a page far over
    chunk_size (and one unbroken run that falls back to the character
    separator), with overlap and without."""
    from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_recursive
    from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_chunks

    long_page = " ".join(f"word{i}" for i in range(120)) + "\n\nnext para " + "x" * 90
    rows = [
        ("golden.pdf", GOLDEN_PDF),
        ("multi.pdf", make_simple_pdf(["short", long_page, "", "tail page"])),
        ("corrupt.pdf", b"%PDF-1.4\ngarbage \xff\xfe truncated"),
        ("empty.pdf", b""),
    ]
    files = spark.createDataFrame(rows, "path string, content binary")
    for size, overlap in [(40, 10), (64, 0)]:
        fused = sorted(tuple(r) for r in extract_chunks(files, size, overlap).collect())
        staged = chunk_recursive(
            extract_pages(files),
            size,
            overlap,
            text_col="page_text",
            keep_cols=["path", "n_pages", "file_size"],
        ).select("path", "n_pages", "file_size", "chunk_text")
        assert fused == sorted(tuple(r) for r in staged.collect()), (size, overlap)
        assert {p for p, *_ in fused} == {"golden.pdf", "multi.pdf"}
        assert sum(p == "multi.pdf" for p, *_ in fused) > 4
