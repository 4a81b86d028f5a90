"""The at-least-once redelivery contract (ingest_replay_idempotent) on
a CRAFTED corpus containing what the fixtures lack: a shingle-less
batch doc (< 3 tokens -> no bands, no self-match possible) that only
the admission LEDGER can reject on replay. Batch split = doc_id % 7."""

import duckdb
import pandas as pd
import pytest

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
from tests.oracle_harness import compare_frames


def _crafted_corpus(tmp_path):
    long14 = "fourteen unique body words flowing onward through the corpus"
    rows = [
        # batch (doc_id % 7 == 0)
        (0, "hi"),                                   # shingle-less: ledger is the only replay gate
        (7, "copy of corpus document one exactly"),  # exact dup of corpus doc 1 -> rejected d1
        (14, long14),                                # unique -> admitted; replay self-match
        (21, long14),                                # dup of 14 (both batch) -> both admitted d1
        # corpus (doc_id % 7 != 0)
        (1, "copy of corpus document one exactly"),
        (2, "second corpus doc with its own words"),
        (3, "third corpus doc talks about other things"),
        (4, "fourth corpus doc still entirely distinct"),
        (5, "fifth corpus doc also completely different"),
        (6, "sixth corpus doc closing out the corpus"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


@pytest.mark.slow
def test_replay_ledger_rejects_shingleless_doc(spark, tmp_path):
    sf_dir = _crafted_corpus(tmp_path)
    q = REGISTRY["ingest_replay_idempotent"]
    sdf = q.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    assert not compare_frames(sdf, con.execute(q.oracle).fetchdf())

    r = sdf.set_index("doc_id")
    # the invariant: a redelivered batch admits NOTHING
    assert not sdf["replay_admitted"].any()
    # shingle-less doc: admitted d1, invisible to the near-dup chain on
    # replay (no bands ever stored), rejected by the ledger alone
    assert bool(r.loc[0, "admitted"])
    assert not bool(r.loc[0, "replay_neardup"])
    assert bool(r.loc[0, "replay_ledger"])
    assert r.loc[0, "bands_in_store"] == 0
    # corpus dup: rejected d1, still rejected on replay by the same
    # stored corpus match; never entered the ledger
    assert not bool(r.loc[7, "admitted"])
    assert bool(r.loc[7, "replay_neardup"])
    assert not bool(r.loc[7, "replay_ledger"])
    assert r.loc[7, "bands_in_store"] == 0
    # admitted doc: its 4 band rows appended exactly once, and the
    # replay sees itself (and its admitted twin) in the store
    assert bool(r.loc[14, "admitted"]) and bool(r.loc[21, "admitted"])
    assert r.loc[14, "bands_in_store"] == 4
    assert r.loc[14, "n_store_dups_d1"] == 0
    assert r.loc[14, "n_store_dups_replay"] == 2  # self + admitted twin 21
    assert r.loc[21, "n_store_dups_replay"] == 2


@pytest.mark.slow
def test_takedown_readmit_twin_stays_rejected(spark, tmp_path):
    """ingest_takedown_readmit on the same crafted corpus: doc 14
    (taken down, % 14 == 0) must stay REJECTED on resubmission because
    its admitted twin 21 survived the purge — forgetting one copy does
    not unlock the other. Doc 0 (shingle-less, taken down) readmits
    via the erased ledger; doc 21 (kept) self-rejects."""
    sf_dir = _crafted_corpus(tmp_path)
    q = REGISTRY["ingest_takedown_readmit"]
    sdf = q.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    assert not compare_frames(sdf, con.execute(q.oracle).fetchdf())

    r = sdf.set_index("doc_id")
    # twin: taken down but near-dups the surviving copy -> not readmitted
    assert bool(r.loc[14, "taken_down"])
    assert not bool(r.loc[14, "readmitted"])
    assert r.loc[14, "n_store_dups_resubmit"] == 1  # the kept twin 21
    assert r.loc[14, "bands_in_store"] == 0  # purged and NOT re-appended
    # the kept twin self-rejects (replay contract unchanged by the purge)
    assert not bool(r.loc[21, "taken_down"]) and not bool(r.loc[21, "readmitted"])
    assert r.loc[21, "bands_in_store"] == 4
    # shingle-less forgotten doc: ledger erased -> readmitted as new
    assert bool(r.loc[0, "taken_down"]) and bool(r.loc[0, "readmitted"])
    assert r.loc[0, "bands_in_store"] == 0
    # rejected-d1 doc: never admitted, never taken down, still rejected
    assert not bool(r.loc[7, "admitted_d1"]) and not bool(r.loc[7, "taken_down"])
    assert not bool(r.loc[7, "readmitted"])
