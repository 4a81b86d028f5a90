"""Unit tests for the chunking operators (SURVEY.md section 5.2/5.4)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from calculate_file_content_size_for_vector_db_spark.operators.chunk import (
    split_text_recursive,
    split_with_start_index,
)

TEXTY = st.text(alphabet=string.ascii_lowercase + " \n", max_size=600)


class TestRecursiveSplitter:
    def test_short_text_single_chunk(self):
        assert split_text_recursive("hello world", chunk_size=100) == ["hello world"]

    def test_empty(self):
        assert split_text_recursive("", chunk_size=10) == []

    def test_splits_on_paragraphs_first(self):
        text = "aaa bbb\n\nccc ddd\n\neee"
        chunks = split_text_recursive(text, chunk_size=10)
        assert chunks == ["aaa bbb", "ccc ddd", "eee"]

    def test_falls_back_to_newline_then_space(self):
        text = "aaaa bbbb cccc dddd"
        chunks = split_text_recursive(text, chunk_size=10)
        assert all(len(c) <= 10 for c in chunks)
        # all content preserved modulo separator whitespace
        assert "".join(chunks).replace(" ", "") == text.replace(" ", "")

    def test_hard_split_no_separators(self):
        text = "x" * 25
        chunks = split_text_recursive(text, chunk_size=10)
        assert chunks == ["x" * 10, "x" * 10, "x" * 5]

    def test_merges_small_pieces(self):
        text = "a b c d e f"
        assert split_text_recursive(text, chunk_size=6) == ["a b c", "d e f"]

    @settings(max_examples=200, deadline=None)
    @given(TEXTY, st.integers(min_value=5, max_value=50))
    def test_chunk_size_bound(self, text, size):
        for c in split_text_recursive(text, chunk_size=size):
            assert 0 < len(c) <= size

    @settings(max_examples=200, deadline=None)
    @given(TEXTY, st.integers(min_value=5, max_value=50))
    def test_start_index_points_at_chunk(self, text, size):
        for chunk, idx in split_with_start_index(text, size, 0):
            assert idx >= 0
            assert text[idx : idx + len(chunk)] == chunk

    @settings(max_examples=100, deadline=None)
    @given(TEXTY, st.integers(min_value=10, max_value=50))
    def test_start_indexes_nondecreasing(self, text, size):
        idxs = [i for _, i in split_with_start_index(text, size, 0)]
        assert idxs == sorted(idxs)

    def test_overlap_carries_tail(self):
        text = "aa bb cc dd ee ff"
        chunks = split_text_recursive(text, chunk_size=8, chunk_overlap=3)
        assert all(len(c) <= 8 for c in chunks)
        # with overlap, consecutive chunks share content
        joined = "".join(chunks)
        assert len(joined) >= len(text.replace(" ", ""))

    # Goldens hand-derived by executing the published
    # RecursiveCharacterTextSplitter algorithm (split with separator
    # kept on the following piece -> greedy merge with the
    # total>overlap eviction loop -> strip; add_start_index searches
    # forward from index + prev_len - overlap) step by step on paper.

    def test_overlap_golden_space_separator(self):
        got = split_with_start_index("aa bb cc dd", 8, 3)
        assert got == [("aa bb cc", 0), ("cc dd", 6)]

    def test_overlap_golden_paragraph_recursion(self):
        text = "para one\n\npara two is long\n\nshort"
        got = split_with_start_index(text, 12, 4)
        assert got == [
            ("para one", 0),
            ("para two is", 10),
            ("is long", 19),
            ("short", 28),
        ]
        # every start index points at its chunk in the ORIGINAL text
        for chunk, idx in got:
            assert text[idx : idx + len(chunk)] == chunk

    @settings(max_examples=150, deadline=None)
    @given(TEXTY, st.integers(min_value=8, max_value=50), st.integers(min_value=1, max_value=7))
    def test_overlap_chunk_size_bound(self, text, size, overlap):
        for c in split_text_recursive(text, chunk_size=size, chunk_overlap=overlap):
            assert 0 < len(c) <= size

    @settings(max_examples=150, deadline=None)
    @given(TEXTY, st.integers(min_value=8, max_value=50), st.integers(min_value=1, max_value=7))
    def test_overlap_start_index_points_at_chunk(self, text, size, overlap):
        idxs = []
        for chunk, idx in split_with_start_index(text, size, overlap):
            assert idx >= 0
            assert text[idx : idx + len(chunk)] == chunk
            idxs.append(idx)
        assert idxs == sorted(idxs)

    @settings(max_examples=100, deadline=None)
    @given(TEXTY, st.integers(min_value=8, max_value=50), st.integers(min_value=0, max_value=7))
    def test_all_content_covered(self, text, size, overlap):
        # No non-whitespace content is dropped: each non-ws char occurs
        # in the chunks at least as often as in the input (overlap may
        # duplicate, never remove). NOTE: this is deliberately a
        # MULTISET property, not a span-union over the reported start
        # indexes — add_start_index parity (find-from-offset, chunk.py
        # split_with_start_index) can report an EARLIER equal occurrence
        # of a repeated chunk (hypothesis counterexample: 'aaaaaaa a',
        # size 8, overlap 1 -> chunk 'a' reported at 6, true position
        # 8), exactly as the reference's langchain splitter does.
        from collections import Counter

        chunk_chars = Counter()
        for chunk, idx in split_with_start_index(text, size, overlap):
            assert text[idx : idx + len(chunk)] == chunk
            chunk_chars.update(c for c in chunk if not c.isspace())
        text_chars = Counter(c for c in text if not c.isspace())
        for c, n in text_chars.items():
            assert chunk_chars[c] >= n, (text, c, n, chunk_chars[c])


class TestFixedChunker:
    def test_exact_multiple_boundary(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_fixed

        df = spark.createDataFrame([(0, "x" * 10)], "doc_id long, text string")
        rows = chunk_fixed(df, chunk_size=5).orderBy("chunk_index").collect()
        assert [(r.chunk_index, r.chunk_text, r.start_index) for r in rows] == [
            (0, "xxxxx", 0),
            (1, "xxxxx", 5),
        ]

    def test_empty_and_null_text_zero_chunks(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_fixed

        df = spark.createDataFrame([(0, ""), (1, None), (2, "abc")], "doc_id long, text string")
        rows = chunk_fixed(df, chunk_size=5).collect()
        assert len(rows) == 1 and rows[0].doc_id == 2

    def test_remainder_chunk(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.chunk import chunk_fixed

        df = spark.createDataFrame([(0, "abcdefg")], "doc_id long, text string")
        rows = chunk_fixed(df, chunk_size=3).orderBy("chunk_index").collect()
        assert [r.chunk_text for r in rows] == ["abc", "def", "g"]
