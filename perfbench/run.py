"""Repository benchmark: drives the package's public entry points on
``local[nproc]`` and prints one JSON result line.

    python3 perfbench/run.py --workload pdf_sizing --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client):

- ``pdf_sizing``: the ``content-sizer`` CLI (``cli.main``) over a seeded
  tree of PDFs (5-25 pages; 1 in 500, at least one, with hundreds of
  pages; 1%, at least one, unreadable). Work sits in sources.io,
  sources.extract, operators.chunk and operators.metrics; none in dedup
  or similarity.
- ``ingest_serve``: a store (admitted rows, shingles, bands, near-dup
  labels, IVF index) is built at set-up. Then come untimed warm-up and
  timed ``streaming.upsert.upsert_store_batch`` calls, each with a
  re-delivery of ~1% of the docs, and after them 64-query
  ``operators.similarity.topk_ivf`` batches served from the stored
  index for ``--seconds``.

``--trace 0`` runs untraced and prints the end-to-end metrics; ``--trace
1`` turns on Spark's event log, wraps each layer call in a span and
prints the per-layer metrics. The traced run then repeats its timed
CLI runs or query batches with the event log off and reports the
difference of the two medians as the tracing overhead. Every output is
checked against an independent recomputation after the timed region;
any mismatch makes ``correct`` false. A JSON line with input sizes, sample counts and the
external CPU load of the run is printed just before the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "calculate_file_content_size_for_vector_db_spark"

# An external-busy-CPU level above this during the timed region marks the
# run as contended (bench.py retries at 2.0; here the run is only marked).
CONTENDED_CPUS = 1.0
DRIVER_MEMORY = "1g"


def _environment(work: str) -> None:
    """Keep every file the run writes, and every import, inside the checkout."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the driver heap starts at full size, so run-to-run differences in heap
    # growth do not show up as GC time; session.get_spark reads the same size
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options {shlex.quote(f'-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # no JVM (the spark-submit launcher included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers import the package by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("pdf_sizing", "ingest_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input size factor (the self-test runs small)"
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    import workloads

    fn = {"pdf_sizing": workloads.pdf_sizing, "ingest_serve": workloads.ingest_serve}[args.workload]
    try:
        res = fn(work, args.seed, args.seconds, bool(args.trace), args.scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    info = dict(res.info, contended=res.info["external_cpus"] > CONTENDED_CPUS, problems=res.problems)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **info}))
    print(
        json.dumps(
            {
                "correct": not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": res.metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
