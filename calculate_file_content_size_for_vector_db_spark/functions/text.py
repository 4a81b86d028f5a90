"""Scalar text functions — all native Column expressions (no UDFs).

C2/S1-S4 preprocessing chain (pdf_reader.py:390-403), order-sensitive
(SURVEY.md Q4):
  1. collapse 2+ newlines -> one newline        (pdf_reader.py:395)
  2. any remaining newline run -> single space  (pdf_reader.py:397)
  3. strip LITERAL backslash-uXXXX sequences — the reference regex
     matches a backslash character followed by uXXXX in the text, not
     actual unicode code points                 (pdf_reader.py:399)
  4. lowercase                                  (pdf_reader.py:401)

The Column chain stays inside whole-stage codegen. ``preprocess_str``
is the same chain on a Python str, for the PDF sizing pass, which
measures chunk text inside the Python loop that parses each file.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def preprocess_text(col: Column | str) -> Column:
    """The reference's _preprocess (pdf_reader.py:390-403), exact order."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "\\n{2,}", "\n")
    c = F.regexp_replace(c, "\\n+", " ")
    # Java regex for a literal backslash is \\ -> python "\\\\"
    c = F.regexp_replace(c, "\\\\u[0-9a-fA-F]{4}", "")
    return F.lower(c)


_NEWLINES_2 = re.compile(r"\n{2,}")
_NEWLINES = re.compile(r"\n+")
_ESCAPES = re.compile(r"\\u[0-9a-fA-F]{4}")


def preprocess_str(s: str) -> str:
    """``preprocess_text`` on a Python str, step for step.

    The two agree on ``len`` for every string without surrogates
    (tests/test_preprocess_property.py sweeps every BMP code point).
    They can differ in the string itself: Spark's ``lower`` uses the
    JVM's Unicode case tables and ``str.lower`` CPython's, and their
    Unicode versions map a few code points differently (e.g. U+1C89,
    U+A7CB). Callers compare lengths, not strings."""
    s = _NEWLINES_2.sub("\n", s)
    s = _NEWLINES.sub(" ", s)
    return _ESCAPES.sub("", s).lower()


def basename(col: Column | str) -> Column:
    """P1 (pdf_reader.py:73,602): os.path.basename as a native expr."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "/"), -1)
