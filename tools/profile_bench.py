"""Per-query bench profiler: splits each headline query's wall time into
DataFrame-build (driver/py4j/plan, plus any eager materialization inside
fn) vs noop-sink execution, and counts Spark jobs/stages each part
launches. Methodology mirrors bench.py (same warm-up, min over passes).

Usage: python tools/profile_bench.py [passes] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from crocus_spark.queries import REGISTRY, queries  # noqa: E402
from crocus_spark.session import get_spark, warm_python_workers  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    queries()
    names = sys.argv[2:] or sorted(
        n for n, q in REGISTRY.items() if "headline" in q.tags
    )
    spark = get_spark(app_name="crocus-profile")
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None))

    def _execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up, mirroring bench.py
    _execute(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    warm_python_workers(spark)

    rows = {}
    for name in names:
        best = None
        for _ in range(passes):
            j0 = njobs()
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
            j1 = njobs()
            _execute(df)
            t2 = time.perf_counter()
            j2 = njobs()
            rec = {
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "build_jobs": j1 - j0,
                "exec_jobs": j2 - j1,
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
        rows[name] = best
        print(name, json.dumps(best), flush=True)
    print("TOTAL", round(sum(r["total_s"] for r in rows.values()), 3))


if __name__ == "__main__":
    main()
