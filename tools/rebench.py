"""Targeted re-measure of named headline queries (bench.py methodology:
sf0.01 warmup, untimed sf0.1 run, best-of-2 timed runs into the noop
sink, release_cache between runs). For fast optimize-measure loops; the
official number stays bench.py's.

Usage: python tools/rebench.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY  # noqa: E402
from calculate_file_content_size_for_vector_db_spark.session import get_spark, release_cache  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_DIR = "/root/testdata/sf0.01"


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(app_name="rebench", cpus=32, shuffle_partitions=32)
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, WARMUP_DIR).write.mode("overwrite").format("noop").save()
        release_cache(spark)
        fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        release_cache(spark)
        samples = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            samples.append(time.perf_counter() - t0)
            release_cache(spark)
        print(f"{name}: {min(samples):.2f}s  (samples: {[round(s,2) for s in samples]})")


if __name__ == "__main__":
    main()
