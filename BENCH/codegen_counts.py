"""Count the classes Spark's code generator compiles in a cdcbench run.

Runs ``cdcbench/run.py`` with the arguments given and, around its timed
phase, reads Spark's ``CodegenMetrics``: every compile is one miss of the
JVM's generated-code cache (``spark.sql.codegen.cache.maxEntries``).
After cdcbench's own two lines it prints one more:

    {"codegen": {"timed": <compiles in the timed phase>,
                 "timed_ms": <their compile time, ms: count x sampled mean>,
                 "through_timed": <compiles since the JVM started>}}

Run from the repository root, e.g.

    python3 BENCH/codegen_counts.py --workload gated_merge --seed 1 --seconds 20 --trace 0
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "cdcbench")]

import run  # noqa: E402  (cdcbench/run.py)

counts: dict[str, tuple[int, float]] = {}


def _read(ctx) -> tuple[int, float]:
    """(compiles, their milliseconds) since the JVM started; the time is
    the count times the mean of the histogram's sample, an estimate."""
    h = ctx.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return h.getCount(), h.getSnapshot().getMean() * h.getCount()


def begin_timed(self, orig=run.Context.begin_timed):
    counts["begin"] = _read(self)
    orig(self)


def end_timed(self, orig=run.Context.end_timed):
    orig(self)
    counts["end"] = _read(self)


run.Context.begin_timed = begin_timed
run.Context.end_timed = end_timed

if __name__ == "__main__":
    rc = run.main()
    (n0, ms0), (n1, ms1) = counts["begin"], counts["end"]
    print(json.dumps({"codegen": {
        "timed": n1 - n0, "timed_ms": round(ms1 - ms0, 1), "through_timed": n1,
    }}))
    sys.exit(rc)
