"""Scalar text functions — all native Column expressions (no UDFs).

C2/S1-S4 preprocessing chain (pdf_reader.py:390-403), order-sensitive
(SURVEY.md Q4):
  1. collapse 2+ newlines -> one newline        (pdf_reader.py:395)
  2. any remaining newline run -> single space  (pdf_reader.py:397)
  3. strip LITERAL backslash-uXXXX sequences — the reference regex
     matches a backslash character followed by uXXXX in the text, not
     actual unicode code points                 (pdf_reader.py:399)
  4. lowercase                                  (pdf_reader.py:401)

Everything here stays inside whole-stage codegen — at 100 TB this chain
runs JVM-side on the scan output with zero Python involvement.
"""

from __future__ import annotations

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


def basename(col: Column | str) -> Column:
    """P1 (pdf_reader.py:73,602): os.path.basename as a native expr."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "/"), -1)
