"""SURVEY.md §8's query inventory is the contract the driver sweep is
judged against; this pins its counts to the actual registry so the two
can't drift (VERDICT round 2, "What's wrong" #6). The order queries()
returns is computed from the CORRECTNESS history (SURVEY.md §5.1)."""

import json
import re
from pathlib import Path

import pytest

import __spark_entry__ as entry
from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY, register

REPO = Path(__file__).resolve().parent.parent
SURVEY = REPO / "SURVEY.md"


def test_survey_inventory_matches_registry():
    text = SURVEY.read_text()
    m = re.search(r"(\d+) registered queries, (\d+) oracle-backed", text)
    assert m, "SURVEY.md §8 inventory line missing"
    total = len(REGISTRY)
    oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (total, oracle), (
        f"SURVEY.md says {m.group(1)}/{m.group(2)} but registry has "
        f"{total} registered / {oracle} oracle-backed — update SURVEY.md §8"
    )


def test_rows_only_queries_are_the_documented_six():
    rows_only = sorted(n for n, q in REGISTRY.items() if q.oracle is None)
    assert rows_only == [
        "approx_distinct_customers",
        "chunk_split",
        "chunk_split_overlap",
        "csv_sink",
        "file_scan",
        "pdf_extract",
    ], f"rows-only set changed: {rows_only} — update SURVEY.md §8 and this list"


def _committed_latest_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.split("_r")[1])
        for name in json.loads(path.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_queries_lead_with_the_least_recently_checked_rows():
    """SURVEY.md §5.1: a verification round checks only the head of
    queries(), so the rows whose latest checked round is oldest (0 =
    never) come first."""
    latest = _committed_latest_rounds()
    rounds = [latest.get(name, 0) for name in entry.queries()]
    assert rounds == sorted(rounds), rounds[:60]


def test_queries_and_oracles_list_every_registered_name_once():
    order = entry.verification_order()
    assert sorted(order) == sorted(REGISTRY)  # every name, none repeated
    assert list(entry.queries()) == order
    with_oracle = [n for n in order if REGISTRY[n].oracle is not None]
    assert list(entry.oracle_sql()) == with_oracle


def test_verification_order_from_synthetic_history(tmp_path):
    reg = list(REGISTRY)
    history = {
        1: [reg[5], reg[1], reg[7]],
        2: [reg[7], reg[0]],
        3: [reg[2]],
    }
    for rnd, names in history.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {"hash_match": True} for n in names})
        )
    checked = [reg[1], reg[5], reg[0], reg[7], reg[2]]
    never = [n for n in reg if n not in checked]
    assert entry.verification_order(tmp_path) == never + checked


def test_verification_order_without_history_is_registration_order(tmp_path):
    assert entry.verification_order(tmp_path) == list(REGISTRY)


@pytest.mark.parametrize(
    "name, text",
    [
        ("CORRECTNESS_r03.json", '{"tpch_q1": '),
        ("CORRECTNESS_r03.json", '["tpch_q1"]'),
        ("CORRECTNESS_rX.json", "{}"),
    ],
    ids=["truncated-json", "not-an-object", "round-not-a-number"],
)
def test_malformed_history_file_raises_with_its_name(tmp_path, name, text):
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")
    (tmp_path / name).write_text(text)
    with pytest.raises(ValueError, match=re.escape(name)):
        entry.verification_order(tmp_path)


def test_duplicate_registration_raises():
    before = dict(REGISTRY)
    with pytest.raises(ValueError, match="'rollup_summary' is already registered"):
        register("rollup_summary")
    assert REGISTRY == before
