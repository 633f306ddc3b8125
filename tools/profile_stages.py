"""Stage-level profiler: runs one headline query with the UI enabled and
dumps per-stage wall/executorRunTime from the REST API, so the expensive
stages can be named (scan vs shuffle vs python).

Usage: python tools/profile_stages.py <query> [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from crocus_spark.queries import REGISTRY, queries  # noqa: E402
from crocus_spark.session import get_spark, warm_python_workers  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    queries()
    spark = get_spark(
        app_name="crocus-stage-profile", extra_conf={"spark.ui.enabled": "true"}
    )

    def _execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    _execute(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    warm_python_workers(spark)

    # warm pass (codegen), then measured pass
    for _ in range(passes - 1):
        _execute(REGISTRY[name].fn(spark, SF_DIR))

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4040/api/v1/applications/{app_id}"
    pre = {s["stageId"] for s in json.load(urllib.request.urlopen(f"{base}/stages"))}

    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, SF_DIR)
    t1 = time.perf_counter()
    _execute(df)
    t2 = time.perf_counter()

    stages = json.load(urllib.request.urlopen(f"{base}/stages?status=COMPLETE"))
    new = [s for s in stages if s["stageId"] not in pre]
    new.sort(key=lambda s: s["stageId"])
    print(f"build {t1-t0:.3f}s exec {t2-t1:.3f}s total {t2-t0:.3f}s")
    tot_run = 0
    for s in new:
        sub = s.get("firstTaskLaunchedTime") or s["submissionTime"]
        wall = "?"
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            w = (
                datetime.strptime(s["completionTime"].replace("GMT", ""), fmt.replace("%Z", ""))
                - datetime.strptime(s["submissionTime"].replace("GMT", ""), fmt.replace("%Z", ""))
            ).total_seconds()
            wall = f"{w:.3f}"
        except Exception:
            pass
        tot_run += s["executorRunTime"]
        print(
            f"stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>3} "
            f"wall={wall:>7}s run={s['executorRunTime']/1000:7.3f}s "
            f"cpu={s.get('executorCpuTime',0)/1e9:7.3f}s "
            f"sched? {s['name'][:90]}"
        )
    print(f"stages={len(new)} sum executorRunTime={tot_run/1000:.3f}s")


if __name__ == "__main__":
    main()
