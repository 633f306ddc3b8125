"""Benchmark harness — times the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) and prints ONE JSON
line for the round driver (recorded as BENCH_r{N}.json).

Measurement rules:
- one warm SparkSession (JVM/codegen warm-up run first, untimed);
- each query executes end-to-end into the ``noop`` sink — full physical
  plan runs (scan → shuffle → agg), nothing is collected to the driver, so
  the number measures the engine, not Arrow serialization;
- wall time per query = MIN over five independent passes: the minimum is
  the standard low-noise estimator on a shared box (it strips scheduler
  contention and first-pass codegen/JIT warm-up, which are host noise,
  not engine cost; five passes because the host shows sustained external
  load spikes of ±20% that three passes did not reliably straddle).
"""

from __future__ import annotations

import json
import os
import sys
import time
import tempfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from crocus_spark.queries import REGISTRY, queries  # noqa: E402
from crocus_spark.session import get_spark, warm_python_workers  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(sf_dir: str) -> float:
    name = Path(sf_dir).name  # e.g. "sf0.1"
    try:
        return float(name.removeprefix("sf"))
    except ValueError:
        return -1.0


def _execute(df) -> None:
    """Force full execution without driver-side collection."""
    df.write.format("noop").mode("overwrite").save()


def check_budgets(times: dict[str, float], sf: float) -> list[str]:
    """Names of queries over their checked-in per-query budget
    (bench_budgets.json, 1.5× the BENCH_r03 time — r3 verdict task 7:
    the suite total hid a 2× single-query regression for two rounds).
    Budgets are calibrated at sf0.1 only; other scales are unchecked."""
    path = Path(_REPO) / "bench_budgets.json"
    if not path.exists():
        return []
    spec = json.loads(path.read_text())
    if abs(sf - spec.get("sf", -1)) > 1e-9:
        return []
    budgets = spec["budgets"]
    return sorted(
        n for n, t in times.items() if n in budgets and t > budgets[n]
    )


def _scaling_probe(spark, mult: int) -> float:
    """Shuffle-heavy probe for the 8c-vs-32c scaling signal (r11 verdict
    item 6: at sf0.1 every headline query is task-overhead-bound, so all
    19 core-count ratios sat ≤1.07 and a parallelism regression would be
    invisible). Multiplies lineitem ``mult``× row-wise (explode of a
    sequence — recomputed from the parquet every run, nothing persisted)
    and pushes the result through a near-unique-key hash aggregate: the
    map side is CPU-bound (xxhash + decimal arithmetic) and the exchange
    carries every row, so wall time tracks core count. Off by default
    (``$SPARK_GRAFT_SCALING_PROBE`` unset): the driver's bench output is
    byte-compatible round-over-round; when set, the probe time is
    reported as a SEPARATE top-level key (same precedent as the IVF
    refit keys), never added to ``value``/``queries``."""
    from pyspark.sql import functions as F

    from crocus_spark.io import load, spread

    li = load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    li = spread(li, spark, cols=("l_orderkey",))
    big = li.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep"),
    )
    keyed = big.groupBy(
        F.xxhash64("l_orderkey", "l_partkey", "rep").alias("k")
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(25,6)"
            )
        ).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    probe = keyed.groupBy(F.pmod("k", F.lit(1024)).alias("b")).agg(
        F.sum("v").alias("v"), F.sum("n").alias("n")
    )
    _execute(probe)  # untimed warm-up (codegen/JIT)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _execute(probe)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _scaling_probe_mult() -> int:
    """``$SPARK_GRAFT_SCALING_PROBE`` as an int (0 = probe off); a
    non-numeric value stops the bench before any query runs, with a
    message naming the variable, instead of after the timed passes."""
    raw = os.environ.get("SPARK_GRAFT_SCALING_PROBE", "0")
    try:
        return int(raw)
    except ValueError:
        raise SystemExit(
            f"SPARK_GRAFT_SCALING_PROBE must be an integer row multiplier "
            f"(0 or unset disables the probe), got {raw!r}"
        ) from None


def main() -> None:
    probe_mult = _scaling_probe_mult()
    queries()  # populate REGISTRY
    heads = sorted(n for n, q in REGISTRY.items() if "headline" in q.tags)

    spark = get_spark(app_name="crocus-bench")
    # warm-up: JVM, codegen, parquet footers — untimed
    _execute(REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    # ... and the Python worker daemon: Spark starts it on the first
    # Python stage, and when its one-time import chain lands inside the
    # IVF refit window it inflates that number by 1-2 s run-to-run (r6→r7
    # A/B: refit measured 8.4 s once in r6, 6.5-7.3 s in four r7
    # re-runs; cold serve 1.83 vs 1.36-1.49). A long-lived cluster never
    # pays this per-query; one untimed warm-up pins it here too.
    warm_python_workers(spark)

    # IVF costs measured SEPARATELY (r3 ADVICE, r4 task #6):
    # ann_ivf_topk memoizes the centroid model in-process AND persists
    # it beside the at-rest store, so three regimes exist and each gets
    # its own honest number: (1) full refit — both caches cleared, the
    # distributed fit runs (one-time per corpus content, ever);
    # (2) process-cold — fresh process, committed model file: one JSON
    # read + probe, the production cold-start; (3) warm probe — the
    # serving number, measured by min-of-5 below.
    import glob as _glob

    from crocus_spark.queries import llm as _llm

    _llm._IVF_HEADLINE_MODEL.clear()
    for _mf in _glob.glob(
        os.path.join(
            tempfile.gettempdir(), "crocus_spark_io", "ivf_model_*.json"
        )
    ):
        os.unlink(_mf)
    t0 = time.perf_counter()
    _execute(REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR))
    ivf_full_refit = round(time.perf_counter() - t0, 3)

    _llm._IVF_HEADLINE_MODEL.clear()  # keep the model FILE: process-cold
    t0 = time.perf_counter()
    _execute(REGISTRY["ann_ivf_topk"].fn(spark, SF_DIR))
    ivf_fit_and_probe = round(time.perf_counter() - t0, 3)

    times: dict[str, float] = {}
    for _pass in range(5):
        for name in heads:
            t0 = time.perf_counter()
            _execute(REGISTRY[name].fn(spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, dt), dt)

    total = round(sum(times.values()), 3)
    sf = _sf_from_dir(SF_DIR)
    probe_sec = (
        _scaling_probe(spark, probe_mult) if probe_mult > 0 else None
    )
    violations = check_budgets(times, sf)
    if violations:
        print(
            f"BUDGET VIOLATIONS (over 1.5x BENCH_r03): {violations}",
            file=sys.stderr,
        )
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "ann_ivf_fit_and_probe_cold_sec": ivf_fit_and_probe,
        "ann_ivf_full_refit_sec": ivf_full_refit,
        "budget_violations": violations,
        "sf": sf,
    }
    if probe_sec is not None:
        out["scaling_probe"] = {"mult": probe_mult, "sec": probe_sec}
    print(json.dumps(out))
    if violations and os.environ.get("SPARK_GRAFT_ENFORCE_BUDGETS") == "1":
        sys.exit(2)


if __name__ == "__main__":
    main()
