"""SRC3: PDF -> text, as distributed mapInPandas plumbing
(SURVEY.md section 2.1 SRC3; reference pdf_reader.py:442-443 uses
langchain's PyPDFLoader driver-side per process).

Spark-first shape: the `binaryFile` scan yields (path, content bytes)
and one Python loop per partition parses each file. Two outputs share
that loop:

- ``extract_pages`` emits one row per page (path, page_number,
  page_text, n_pages, file_size);
- ``extract_sizes`` emits one row per file (path, pages, file_size,
  chunks, text_size, status, error). It splits every page, preprocesses every
  chunk and sums the lengths in the same loop. This is the sizing path:
  no text crosses Arrow, and the per-file rows need no shuffle.

A file is parsed, and its pages split, inside one task either way: PDFs
are not splittable mid-file, so one huge file (the reference's
1,652-page outlier, README.md:20) is one task's work. Parallelism comes
from spreading files over tasks.

A file whose content is NULL, whose parser raises, or that yields no
page is unreadable: it has no page rows, and one size row with status
``unreadable`` whose ``error`` says why. It never fails the job.

Parsing backend: pypdf when importable (not in this container). The
fallback is a minimal parser for the uncompressed single-stream PDFs
produced by ``make_simple_pdf`` — it keeps the distributed plumbing
(schema, Arrow batching, page fan-out) real and testable without the
binary dependency; arbitrary real-world PDFs need pypdf.
"""

from __future__ import annotations

import io
import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from calculate_file_content_size_for_vector_db_spark.functions.text import preprocess_str
from calculate_file_content_size_for_vector_db_spark.operators.chunk import (
    DEFAULT_CHUNK_SIZE,
    split_text_recursive,
)

try:
    import pypdf  # optional extra

    HAVE_PYPDF = True
except ImportError:
    HAVE_PYPDF = False

PAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("page_number", IntegerType()),
        StructField("page_text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("file_size", LongType()),
    ]
)

SIZE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("pages", IntegerType()),
        StructField("file_size", LongType()),
        StructField("chunks", IntegerType()),
        StructField("text_size", LongType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)

OK = "ok"
UNREADABLE = "unreadable"


def _escape_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _unescape_pdf_string(s: str) -> str:
    return s.replace(r"\(", "(").replace(r"\)", ")").replace(r"\\", "\\")


def make_simple_pdf(pages: list[str]) -> bytes:
    """Deterministic, uncompressed, single-font PDF — one Tj text run
    per page. ASCII-safe payloads only (non-ASCII is dropped)."""
    objects: list[bytes] = []
    n = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i, text in enumerate(pages):
        page_obj = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
            f"{3 + 2 * n} 0 R >> >> >>"
        )
        objects.append(page_obj.encode())
        payload = _escape_pdf_string(text.encode("ascii", "ignore").decode("ascii"))
        stream = f"BT /F1 12 Tf 72 720 Td ({payload}) Tj ET".encode()
        objects.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
        )
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objects, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj\n" % i)
        out.write(obj)
        out.write(b"\nendobj\n")
    xref_at = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objects) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return out.getvalue()


_TJ_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*Tj")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)


def _extract_pages_fallback(data: bytes) -> list[str]:
    pages = []
    for m in _STREAM_RE.finditer(data):
        texts = [
            _unescape_pdf_string(t.decode("latin-1")) for t in _TJ_RE.findall(m.group(1))
        ]
        pages.append(" ".join(texts))
    return pages


def extract_pdf_text(data: bytes) -> list[str]:
    """One string per page."""
    if HAVE_PYPDF:
        reader = pypdf.PdfReader(io.BytesIO(data))
        return [p.extract_text() or "" for p in reader.pages]
    return _extract_pages_fallback(data)


def _read(content: bytes | None) -> tuple[list[str], int, str | None]:
    """(pages, file_size, error) of one file. A file whose content is
    NULL or whose parser raises has no pages, and error says which."""
    if content is None:
        return [], 0, "NULL content"
    data = bytes(content)
    try:
        return extract_pdf_text(data), len(data), None
    except Exception as e:  # noqa: BLE001 — one bad file is a row, not a failed job
        return [], len(data), f"{type(e).__name__}: {e}"


def _map_files(
    files: DataFrame,
    schema: StructType,
    rows_for: Callable[[str, list[str], int, str | None], Iterable[tuple]],
) -> DataFrame:
    """Parse every file once and emit ``rows_for(path, *_read(content))``;
    one Arrow-batched Python loop per partition."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for path, content in zip(pdf_batch["path"], pdf_batch["content"]):
                rows.extend(rows_for(path, *_read(content)))
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return files.select("path", "content").mapInPandas(_parse, schema)


def extract_pages(files: DataFrame) -> DataFrame:
    """binaryFile rows -> one row per page (path, page_number 0-based,
    page_text, n_pages, file_size). Arrow-batched per partition; the
    input is spread over the session's cores first, as a fixture frame
    may arrive in one partition."""
    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    def _pages(path: str, pages: list[str], size: int, error: str | None) -> Iterator[tuple]:
        return ((path, i, text, len(pages), size) for i, text in enumerate(pages))

    return _map_files(spread(files.select("path", "content")), PAGE_SCHEMA, _pages)


def extract_sizes(
    files: DataFrame, chunk_size: int = DEFAULT_CHUNK_SIZE, chunk_overlap: int = 0
) -> DataFrame:
    """binaryFile rows -> one row per file (path, pages, file_size,
    chunks, text_size, status, error): ``extract_pages``, then
    ``chunk_recursive`` on page_text, then ``preprocess_text`` on each
    chunk, summed per file, all in one Python pass. text_size counts
    code points of the preprocessed chunks, as Spark's ``length`` does.

    A readable file whose pages hold no text is an ``ok`` row with 0
    chunks and text_size 0. An unreadable file (see the module
    docstring) is an ``unreadable`` row with 0 pages, chunks and
    text_size; error is NULL on ``ok`` rows.

    The input is not repartitioned. Spark charges every file at least
    ``spark.sql.files.openCostInBytes`` when it packs a scan's splits,
    so a folder scan yields one file per partition while it has fewer
    files than cores, and about one partition per core beyond that; a
    repartition would add no parallelism, only a shuffle of file
    content."""

    def _sizes(path: str, pages: list[str], size: int, error: str | None) -> list[tuple]:
        if not pages:
            return [(path, 0, size, 0, 0, UNREADABLE, error or "no pages")]
        lengths = [
            len(preprocess_str(chunk))
            for text in pages
            for chunk in split_text_recursive(text, chunk_size, chunk_overlap)
        ]
        return [(path, len(pages), size, len(lengths), sum(lengths), OK, None)]

    return _map_files(files, SIZE_SCHEMA, _sizes)


def text_to_pdf_udf(first_page_chars: int = 100):
    """Pandas UDF: text column -> deterministic 2-page PDF bytes (test
    harness for the extraction plumbing when no real PDFs exist)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def to_pdf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: make_simple_pdf([t[:first_page_chars], t[first_page_chars:]])
        )

    return to_pdf
