"""Output checks. They run outside every timed region and compare the
program's outputs with values recomputed independently: in pure Python
from the generator's own page texts, or in DuckDB from the stored files.
Each returns a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

import glob
import math
import os
import re

from gen import PdfTree

SUM_TOTAL = "SUM TOTAL"


def preprocess(s: str) -> str:
    """The reference's page-text preprocessing, step for step."""
    s = re.sub(r"\n{2,}", "\n", s)
    s = re.sub(r"\n+", " ", s)
    s = re.sub(r"\\u[0-9a-fA-F]{4}", "", s)
    return s.lower()


def expected_sizes(tree: PdfTree, chunk_size: int = 1200) -> dict[str, tuple[int, int, int]]:
    """basename -> (file_size, chunks, text_size) for every readable file."""
    from calculate_file_content_size_for_vector_db_spark.operators.chunk import (
        split_text_recursive,
    )

    out = {}
    for f in tree.files:
        if f.pages is None:
            continue
        chunks = [c for page in f.pages for c in split_text_recursive(page, chunk_size, 0)]
        out[os.path.basename(f.path)] = (
            len(f.data),
            len(chunks),
            sum(len(preprocess(c)) for c in chunks),
        )
    return out


def read_report(out_dir: str) -> list[dict]:
    """Rows of the CSV report the sizing CLI wrote under ``out_dir``."""
    import csv

    parts = glob.glob(os.path.join(out_dir, "*.d", "part-*.csv"))
    if len(parts) != 1:
        raise RuntimeError(f"expected one report part file, found {parts}")
    with open(parts[0], newline="") as f:
        return list(csv.DictReader(f))


def report_accounting(tree: PdfTree, rows: list[dict]) -> int:
    """Files the report accounts for: readable files listed in it, plus
    unreadable ones it lists or counts (a ``files_unreadable`` column)."""
    names = {r["filename"] for r in rows}
    listed = sum(os.path.basename(f.path) in names for f in tree.files)
    total = next((r for r in rows if r["filename"] == SUM_TOTAL), {})
    counted = int(float(total.get("files_unreadable") or 0))
    return listed + counted


def check_pdf_report(tree: PdfTree, rows: list[dict], want: dict) -> list[str]:
    """Every readable file appears with exactly its size, chunk count and
    text size, and SUM TOTAL equals the sum of the listed files."""
    problems = []
    by_name = {r["filename"]: r for r in rows}
    if len(by_name) != len(rows):
        problems.append("duplicate filenames in report")
    for name, (size, chunks, text) in want.items():
        r = by_name.get(name)
        if r is None:
            problems.append(f"{name}: missing from report")
            continue
        got = (int(r["file_size"]), int(r["chunks"]), int(r["text_size"]))
        if got != (size, chunks, text):
            problems.append(f"{name}: got {got}, want {(size, chunks, text)}")
    unreadable = {os.path.basename(f.path) for f in tree.files if f.pages is None}
    extra = set(by_name) - set(want) - unreadable - {SUM_TOTAL}
    if extra:
        problems.append(f"unknown rows in report: {sorted(extra)[:5]}")
    total = by_name.get(SUM_TOTAL)
    if total is None:
        return problems + ["no SUM TOTAL row"]
    files = [r for n, r in by_name.items() if n != SUM_TOTAL]
    for col in ("file_size", "chunks", "text_size"):
        if int(total[col]) != sum(int(r[col]) for r in files):
            problems.append(f"SUM TOTAL {col} is not the sum of the file rows")
    return problems


def parse_sum_total_line(stdout: str) -> tuple[int, int, int] | None:
    """(chunks, file_size, text_size) of the SUM TOTAL line the CLI prints."""
    for line in stdout.splitlines():
        if line.startswith(SUM_TOTAL):
            nums = line[len(SUM_TOTAL) :].split()
            return tuple(int(x.replace(",", "")) for x in nums[:3])
    return None


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def check_planted_clusters(clusters: list[list[int]], labels: dict[int, int]) -> list[str]:
    """Every planted near-duplicate cluster shares one label."""
    bad = [c for c in clusters if len({labels.get(i, -1 - i) for i in c}) != 1]
    return [f"{len(bad)} planted clusters split, first {bad[0]}"] if bad else []


def oracle_labels(texts: list[str]) -> set[tuple[int, int]]:
    """(doc_id, cluster_id) of a from-scratch near-dup clustering in DuckDB,
    by the SQL the dedup_clusters query registers as its oracle."""
    import duckdb
    import pyarrow as pa

    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY

    con = duckdb.connect()
    documents = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
    con.register("documents", documents)
    rows = con.execute(REGISTRY["dedup_clusters"].oracle).fetchall()
    con.close()
    return {(int(a), int(b)) for a, b in rows}


def check_labels(texts: list[str], got: set[tuple[int, int]]) -> list[str]:
    want = oracle_labels(texts)
    if got == want:
        return []
    return [
        f"labels differ from a from-scratch clustering: {len(got - want)} extra, "
        f"{len(want - got)} missing rows"
    ]


def exact_topk(store: str, query_ids: list[int], k: int = 5) -> list[tuple]:
    """Exact in-cell cosine top-k over the stored vectors and assignment."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH e AS (
            SELECT doc_id AS vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM read_parquet('{store}/admitted/*.parquet')
        ), a AS (
            SELECT vec_id, cell FROM read_parquet('{store}/index/assign/*.parquet')
        ), q AS (SELECT unnest(?::BIGINT[]) AS vec_id),
        scored AS (
            SELECT q.vec_id AS query_id, ce.vec_id AS neighbor_id,
                   round(list_cosine_similarity(qe.v, ce.v), 6) AS cosine
            FROM q JOIN e qe USING (vec_id) JOIN a qa USING (vec_id)
            JOIN a ca ON ca.cell = qa.cell JOIN e ce ON ce.vec_id = ca.vec_id
            WHERE ce.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
            FROM scored
        ) WHERE rank <= {k}
        """,
        [query_ids],
    ).fetchall()
    con.close()
    return rows


def check_topk(store: str, query_ids: list[int], served: list[tuple]) -> list[str]:
    """Served (query_id, neighbor_id, cosine, rank) rows equal exact scoring."""
    want = {(q, r): (n, c) for q, n, c, r in exact_topk(store, query_ids)}
    got = {(q, r): (n, c) for q, n, c, r in served if q in set(query_ids)}
    if set(got) != set(want):
        return [f"top-k row keys differ: {len(set(got) ^ set(want))} rows"]
    bad = [
        key for key, (n, c) in got.items()
        if n != want[key][0] or not math.isclose(c, want[key][1], abs_tol=1e-9)
    ]
    return [f"{len(bad)} top-k rows differ, first {bad[0]}"] if bad else []


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
