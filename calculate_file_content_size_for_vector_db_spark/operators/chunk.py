"""Chunking — the reference's UDTF-shaped core transform (SURVEY.md C1).

The reference splits each page's text with langchain's
RecursiveCharacterTextSplitter(chunk_size=1200, chunk_overlap=0,
add_start_index=True) (pdf_reader.py:446-453, defaults :310,506).

Two implementations:

1. ``chunk_fixed`` — fixed-width slicing, 100% native Column
   expressions (sequence + transform + posexplode). Whole-stage
   codegen, SQL-expressible, so it is the DuckDB-oracle-checked path.
   One row in -> ceil(len/size) rows out with zero Python.

2. ``chunk_recursive`` — faithful reimplementation of the public
   recursive-character-split algorithm (hierarchical separators
   ["\\n\\n", "\\n", " ", ""], greedy re-merge up to chunk_size,
   optional overlap, start_index tracking) as a vectorized Pandas UDF
   returning ``array<struct<chunk_text,start_index>>`` + posexplode.
   Arrow-batched: one Python roundtrip per partition batch, not per row.

Scale notes: both are narrow transforms — no shuffle. The PDF sizing
path does not go through ``chunk_recursive``: ``sources.extract.
extract_sizes`` calls ``split_text_recursive`` in the same Python loop
that parses each file and keeps only each file's chunk count and text
size, so no chunk text leaves that loop. A file is parsed and split
inside one task, so one huge file (the reference's 1,652-page doc,
README.md:20) is one task's work.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_CHUNK_SIZE = 1200  # pdf_reader.py:310,506
DEFAULT_SEPARATORS = ["\n\n", "\n", " ", ""]

_CHUNK_STRUCT = ArrayType(
    StructType(
        [
            StructField("chunk_text", StringType()),
            StructField("start_index", IntegerType()),
        ]
    )
)


def fixed_chunks_col(text: Column | str, chunk_size: int) -> Column:
    """array<struct<chunk_text,start_index>> of fixed-width slices.

    Empty/NULL text -> empty array (a zero-text doc yields 0 chunks,
    matching the reference where no chunks means an empty chunk_list).
    """
    c = F.col(text) if isinstance(text, str) else text
    n = F.ceil(F.length(c) / F.lit(float(chunk_size))).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            F.substring(c, i * chunk_size + 1, chunk_size).alias("chunk_text"),
            (i * chunk_size).alias("start_index"),
        ),
    )
    empty = F.array().cast(_CHUNK_STRUCT)
    return F.when(F.coalesce(F.length(c), F.lit(0)) > 0, slices).otherwise(empty)


def explode_chunks(df: DataFrame, chunks_col: Column, keep_cols: list[str]) -> DataFrame:
    """posexplode an array<struct> of chunks into one row per chunk.

    The position is stored explicitly as ``chunk_index`` (the
    reference's loop variable ``ind``, pdf_reader.py:459, which it
    computes but never stores — we need it as the deterministic
    ordering key for the running-offset window, SURVEY.md W1/W2).
    """
    exploded = df.select(*keep_cols, F.posexplode(chunks_col).alias("chunk_index", "chunk"))
    return exploded.select(
        *keep_cols,
        "chunk_index",
        F.col("chunk.chunk_text").alias("chunk_text"),
        F.col("chunk.start_index").alias("start_index"),
    )


def chunk_fixed(
    df: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width chunk table: keep_cols + chunk_index/chunk_text/start_index."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    return explode_chunks(df, fixed_chunks_col(text_col, chunk_size), keep)


# ---------------------------------------------------------------------------
# Recursive character splitting (public langchain algorithm, reimplemented)
# ---------------------------------------------------------------------------


def _split_keep_separator(text: str, separator: str) -> list[str]:
    """Split; separator stays attached to the FOLLOWING piece."""
    if not separator:
        return list(text)
    parts = re.split(f"({re.escape(separator)})", text)
    out = [parts[i] + parts[i + 1] for i in range(1, len(parts) - 1, 2)]
    if len(parts) % 2 == 0:
        out.append(parts[-1])
    return [p for p in ([parts[0]] + out) if p != ""]


def _merge_splits(splits: list[str], chunk_size: int, chunk_overlap: int) -> list[str]:
    """Greedy re-merge of sub-chunk pieces into <= chunk_size chunks.

    Joined with "" (keep-separator mode), whitespace-stripped; overlap
    carries trailing pieces into the next chunk.
    """
    docs: list[str] = []
    current: list[str] = []
    total = 0
    for piece in splits:
        plen = len(piece)
        if total + plen > chunk_size:
            if current:
                doc = "".join(current).strip()
                if doc:
                    docs.append(doc)
                while total > chunk_overlap or (total + plen > chunk_size and total > 0):
                    total -= len(current[0])
                    current = current[1:]
        current.append(piece)
        total += plen
    doc = "".join(current).strip()
    if doc:
        docs.append(doc)
    return docs


def split_text_recursive(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = 0,
    separators: list[str] | None = None,
) -> list[str]:
    """Recursive character split: try coarse separators first, recurse
    into oversized pieces with finer ones, greedily re-merge."""
    seps = separators if separators is not None else DEFAULT_SEPARATORS

    def _split(text: str, separators: list[str]) -> list[str]:
        final: list[str] = []
        separator = separators[-1]
        new_separators: list[str] = []
        for i, s in enumerate(separators):
            if s == "" or s in text:
                separator = s
                new_separators = separators[i + 1 :]
                break
        pieces = _split_keep_separator(text, separator)
        good: list[str] = []
        for piece in pieces:
            if len(piece) < chunk_size:
                good.append(piece)
            else:
                if good:
                    final.extend(_merge_splits(good, chunk_size, chunk_overlap))
                    good = []
                if not new_separators:
                    final.append(piece)
                else:
                    final.extend(_split(piece, new_separators))
        if good:
            final.extend(_merge_splits(good, chunk_size, chunk_overlap))
        return final

    if not text:
        return []
    return _split(text, seps)


def split_with_start_index(
    text: str, chunk_size: int, chunk_overlap: int
) -> list[tuple[str, int]]:
    """Chunks + their start offsets within ``text`` (add_start_index
    semantics: search forward from the previous chunk's position)."""
    out: list[tuple[str, int]] = []
    index = 0
    prev_len = 0
    for chunk in split_text_recursive(text, chunk_size, chunk_overlap):
        offset = index + prev_len - chunk_overlap
        index = text.find(chunk, max(0, offset))
        out.append((chunk, index))
        prev_len = len(chunk)
    return out


def recursive_chunks_udf(chunk_size: int = DEFAULT_CHUNK_SIZE, chunk_overlap: int = 0):
    """Pandas UDF: text column -> array<struct<chunk_text,start_index>>."""

    @F.pandas_udf(_CHUNK_STRUCT)
    def _split(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: []
            if t is None
            else split_with_start_index(t, chunk_size, chunk_overlap)
        )

    return _split


def chunk_recursive(
    df: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = 0,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Recursive-split chunk table (the reference-parity path, C1)."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    udf = recursive_chunks_udf(chunk_size, chunk_overlap)
    return explode_chunks(df, udf(F.col(text_col)), keep)
