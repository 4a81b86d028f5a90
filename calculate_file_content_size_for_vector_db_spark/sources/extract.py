"""SRC3: PDF -> text, as distributed mapInPandas plumbing
(SURVEY.md section 2.1 SRC3; reference pdf_reader.py:442-443 uses
langchain's PyPDFLoader driver-side per process).

Spark-first shape: the `binaryFile` scan yields (path, content bytes)
and one Python loop per partition parses each file. Two outputs share
that loop:

- ``extract_pages`` emits one row per page (path, page_number,
  page_text, n_pages, file_size);
- ``extract_chunks`` also runs the recursive split on every page in the
  same loop and emits one row per chunk (path, n_pages, file_size,
  chunk_text). This is the sizing path: page text never crosses Arrow
  into the JVM and back into a second Python worker for splitting.

A file is parsed, and its pages split, inside one task either way: PDFs
are not splittable mid-file, so one huge file (the reference's
1,652-page outlier, README.md:20) is one task's work. Parallelism comes
from spreading files over tasks (``partitioning.spread``).

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

CHUNK_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("file_size", LongType()),
        StructField("chunk_text", StringType()),
    ]
)


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


def _map_files(
    files: DataFrame,
    schema: StructType,
    rows_for: Callable[[str, list[str], int], Iterable[tuple]],
    path_col: str,
    content_col: str,
) -> DataFrame:
    """Parse every file once and emit ``rows_for(path, pages, file_size)``;
    one Arrow-batched Python loop per partition."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for path, content in zip(pdf_batch[path_col], pdf_batch[content_col]):
                data = bytes(content)
                rows.extend(rows_for(path, extract_pdf_text(data), len(data)))
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    from calculate_file_content_size_for_vector_db_spark.partitioning import spread

    return spread(files.select(path_col, content_col)).mapInPandas(_parse, schema)


def extract_pages(files: DataFrame, path_col: str = "path", content_col: str = "content") -> DataFrame:
    """binaryFile rows -> one row per page (path, page_number 0-based,
    page_text, n_pages, file_size). Arrow-batched per partition."""

    def _pages(path: str, pages: list[str], size: int) -> Iterator[tuple]:
        return ((path, i, text, len(pages), size) for i, text in enumerate(pages))

    return _map_files(files, PAGE_SCHEMA, _pages, path_col, content_col)


def extract_chunks(
    files: DataFrame, chunk_size: int = DEFAULT_CHUNK_SIZE, chunk_overlap: int = 0
) -> DataFrame:
    """binaryFile rows -> one row per chunk (path, n_pages, file_size,
    chunk_text): ``extract_pages`` then ``chunk_recursive`` on page_text,
    fused into one Python pass. A file whose pages hold no text emits no
    rows, as a page with no chunks does in ``chunk_recursive``."""

    def _chunks(path: str, pages: list[str], size: int) -> Iterator[tuple]:
        return (
            (path, len(pages), size, chunk)
            for text in pages
            for chunk in split_text_recursive(text, chunk_size, chunk_overlap)
        )

    return _map_files(files, CHUNK_SCHEMA, _chunks, "path", "content")


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
