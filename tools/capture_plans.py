"""Capture .explain("formatted") for headline queries into plans/r15/.

Usage:
    python tools/capture_plans.py before [query ...]
    python tools/capture_plans.py after  [query ...]

With no query names, captures every bench HEADLINE query. Writes
plans/r15/<query>_<tag>.txt plus a one-line-per-query summary of plan
shape (Exchange count, join strategies, Python eval nodes) to stdout —
the measure-first step of the optimization guide (§1, §7.2).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from calculate_file_content_size_for_vector_db_spark.entry_queries import (  # noqa: E402
    REGISTRY,
)
from calculate_file_content_size_for_vector_db_spark.session import get_spark, release_cache  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r16"),
)


def _shape(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "BHJ": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "SMJ": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "SHJ": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "BNLJ": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "Cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "PyEval": len(re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b", plan)),
        "Window": len(re.findall(r"\bWindow\b", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "Scan": len(re.findall(r"Scan parquet", plan)),
    }
    return " ".join(f"{k}={v}" for k, v in counts.items())


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {_shape(plan)}")
        release_cache(spark)


if __name__ == "__main__":
    main()
