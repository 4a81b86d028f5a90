"""Self-test of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and check tests need no Spark; the run tests drive
``run.py`` at a small input scale, once per workload and mode.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.make_pdf_tree(7, str(tmp_path / "a"), 30)
    b = gen.make_pdf_tree(7, str(tmp_path / "b"), 30)
    assert _tree_digest(a.root) == _tree_digest(b.root)
    assert _tree_digest(a.root) != _tree_digest(gen.make_pdf_tree(8, str(tmp_path / "c"), 30).root)
    for d in ("x", "y"):
        workloads._write_inputs(gen.make_ingest_input(7, 300, 1, 3), str(tmp_path / d))
    assert _tree_digest(str(tmp_path / "x")) == _tree_digest(str(tmp_path / "y"))


def test_planted_near_duplicates_are_lsh_pairs_of_their_base():
    rng = np.random.default_rng(3)
    corpus = gen.make_corpus(rng, gen.Vocab(rng), 300, n_hubs=1, hub_size=20)
    assert corpus.clusters and all(2 <= len(c) <= 8 for c in corpus.clusters)
    for c in corpus.clusters:
        # some member (the base) is a verified LSH pair of every other member
        assert any(
            all(gen._linked(corpus.texts[b], corpus.texts[i]) for i in c if i != b) for b in c
        )


# ---------------------------------------------------------------------------
# every check rejects a corrupted output
# ---------------------------------------------------------------------------


def _report_rows(want: dict) -> list[dict]:
    rows = [
        {"filename": n, "file_size": str(s), "chunks": str(c), "text_size": str(t)}
        for n, (s, c, t) in want.items()
    ]
    rows.append({
        "filename": checks.SUM_TOTAL,
        "file_size": str(sum(v[0] for v in want.values())),
        "chunks": str(sum(v[1] for v in want.values())),
        "text_size": str(sum(v[2] for v in want.values())),
    })
    return rows


def test_pdf_report_check(tmp_path):
    tree = gen.make_pdf_tree(1, str(tmp_path / "pdfs"), 25)
    want = checks.expected_sizes(tree)
    rows = _report_rows(want)
    assert checks.check_pdf_report(tree, rows, want) == []
    assert checks.report_accounting(tree, rows) == len(want)

    name = next(iter(want))
    bad = [dict(r) for r in rows]
    bad[0]["text_size"] = str(int(bad[0]["text_size"]) + 1)
    assert checks.check_pdf_report(tree, bad, want)
    assert checks.check_pdf_report(tree, [r for r in rows if r["filename"] != name], want)
    bad = [dict(r) for r in rows]
    bad[-1]["file_size"] = str(int(bad[-1]["file_size"]) - 1)
    assert checks.check_pdf_report(tree, bad, want)


def test_sum_total_line_parse():
    line = f"{checks.SUM_TOTAL:40} {1234:>8,} {5678901:>14,} {23456:>14,} {'1.00':>8}"
    assert checks.parse_sum_total_line("header\n" + line) == (1234, 5678901, 23456)


def test_label_checks():
    rng = np.random.default_rng(5)
    corpus = gen.make_corpus(rng, gen.Vocab(rng), 200, n_hubs=1, hub_size=20)
    want = checks.oracle_labels(corpus.texts)
    assert checks.check_labels(corpus.texts, want) == []
    doc, label = next(iter(want))
    assert checks.check_labels(corpus.texts, (want - {(doc, label)}) | {(doc, label + 1)})
    labels = dict(want)
    assert checks.check_planted_clusters(corpus.clusters, labels) == []
    c = corpus.clusters[0]
    labels[c[-1]] = -7
    assert checks.check_planted_clusters(corpus.clusters, labels)


def test_topk_check(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((60, 8)).astype(np.float32)
    store = tmp_path / "store"
    (store / "admitted").mkdir(parents=True)
    (store / "index" / "assign").mkdir(parents=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(60), pa.int64()),
                  "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
        str(store / "admitted" / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(range(60), pa.int64()),
                  "cell": pa.array([i % 3 for i in range(60)], pa.int32())}),
        str(store / "index" / "assign" / "part-0.parquet"),
    )
    ids = [0, 1, 2, 10]
    served = checks.exact_topk(str(store), ids)
    assert len(served) == 5 * len(ids)
    assert checks.check_topk(str(store), ids, served) == []
    q, n, c, r = served[0]
    assert checks.check_topk(str(store), ids, [(q, n + 1, c, r)] + served[1:])
    assert checks.check_topk(str(store), ids, served[1:])


# ---------------------------------------------------------------------------
# tiny runs of every workload
# ---------------------------------------------------------------------------


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


REPEATED_COUNTS = {
    "pdf_sizing": ("sources.extract.pages_out", "operators.chunk.chunks_out"),
    "ingest_serve": (
        "operators.dedup.candidate_pairs",
        "operators.dedup.verified_pairs",
        "streaming.store_swap.bytes_written",
    ),
}


@pytest.mark.parametrize("workload", ["pdf_sizing", "ingest_serve"])
def test_tiny_run_emits_every_metric_and_repeats_counts(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())

    first, second = _run(workload, 1), _run(workload, 1)
    assert first["correct"] and second["correct"]
    assert {k: v["unit"] for k, v in first["metrics"].items()} == _declared("per_layer")
    for name in REPEATED_COUNTS[workload]:
        assert first["metrics"][name]["value"] > 0
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
