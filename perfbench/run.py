"""Benchmark command for the crocus_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload confront_sql --seed 1 --seconds 15 --trace 0

It generates the workload's inputs from the seed, builds one Spark
session at ``local[<cpus>]``, runs an untimed warm pass, then runs timed
passes in one closed loop until ``--seconds`` have passed, and then checks
the warm pass's outputs. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from passes that alternate tracing on and off (the
difference is the tracing overhead). The line before it is a report
with the run's settings, sample counts and, when traced, exact counts.

See ``perfbench/NOTES.md`` for what each workload and metric is for.
"""

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import workloads  # noqa: E402
from proc import RssPeak, TreeSampler, process_tree, steal_s  # noqa: E402
from spans import StageTotals, Tracer, self_times  # noqa: E402
from stats import median, tail_percentile  # noqa: E402

SF = 0.01
WORK_DIR = ".perfbench_work"

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.prewarm_join_s": "s", "session.first_op_s": "s",
    "session.persisted_rdds_delta": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.driver_cpu_s": "s",
    "io.input_mb": "MB", "io.scan_time_s": "s",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.run_s": "s", "operators.jvm_cpu_s": "s",
    "operators.core_busy": "ratio", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB", "operators.spill_mb": "MB",
    "worker_daemon.cpu_s": "s", "worker_daemon.wait_s": "s", "worker_daemon.procs": "count",
    "maintenance.commit_append_s": "s", "maintenance.commit_eq_delete_s": "s",
    "maintenance.commit_jobs": "count", "maintenance.read_snapshot_s": "s",
    "maintenance.read_pruned_s": "s", "maintenance.time_travel_s": "s",
    "maintenance.pruned_frac": "ratio", "maintenance.compact_s": "s",
    "maintenance.expire_s": "s", "maintenance.files_live": "count",
    "maintenance.write_amp": "ratio",
    "similarity.ivf_sync_s": "s", "similarity.ivf_sync_jobs": "count",
    "similarity.cells_rewritten_frac": "ratio", "similarity.ivf_probe_s": "s",
    "similarity.ivf_probe_jobs": "count", "similarity.bootstrap_s": "s",
    "op_s_p50": "s", "op_s_p90": "s", "commit_s_p50": "s", "read_s_p50": "s",
    "index_fresh_s_p50": "s", "probe_s_p50": "s", "space_amp": "ratio", "failed_frac": "ratio",
    "queries.self_s": "s", "operators.self_s": "s", "maintenance.self_s": "s",
    "similarity.self_s": "s", "perfbench.self_s": "s",
    "perfbench.trace_overhead_s": "s",
}


@dataclass
class PassRecord:
    index: int
    traced: bool
    secs: float
    ops: list
    cpu: dict  # /proc CPU seconds per process group during the pass
    worker_procs: int
    spans: list = field(default_factory=list)
    totals: dict = field(default_factory=dict)  # span index -> StageTotals
    rdd_delta: int = 0
    written: int = 0  # bytes of files the pass added under the store root
    generated: int = 0  # parquet bytes of the rows the pass generated


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> int:
    """Pin cores, memory and every scratch path of this run to ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, total_mb // 8))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "CROCUS_SCRATCH_DIR": os.path.join(tmp, "crocus_spark_io"),
        # the JVM that spark-submit starts to build the driver's command
        # line would otherwise leave its perf-counter file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    for f in glob.glob(os.path.join(tempfile.gettempdir(), "crocus_spark_io",
                                    "ivf_model_*.json")):
        os.remove(f)
    return cpus


def join_prewarm(timeout: float = 120.0) -> None:
    for t in threading.enumerate():
        if t.name == "crocus-spark-prewarm":
            t.join(timeout)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    started = {p.pid for p in process_tree(os.getpid())} - {os.getpid()}
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0]
    except OSError:
        return "Z"


def _sum_spans(rec: PassRecord, pred) -> StageTotals:
    out = StageTotals()
    for i, sp in enumerate(rec.spans):
        if pred(sp) and i in rec.totals:
            out.add(rec.totals[i])
    return out


def _span_durs(recs, name: str) -> list[float]:
    return [sp.dur for r in recs for sp in r.spans if sp.name == name]


def _span_jobs(recs, name: str) -> list[int]:
    return [len(sp.jobs) for r in recs for sp in r.spans if sp.name == name]


def per_layer_metrics(traced, untraced, setup, wl, extra, cpus, failed_frac) -> dict:
    """Each per-layer metric, as the median over traced passes unless
    noted; a layer the workload does not exercise reads 0."""
    def per_pass(fn):
        return median(fn(r) for r in traced)

    def not_build(sp):
        return sp.name != "queries.build"

    m = {
        "session.build_s": setup["build_s"],
        "session.prewarm_join_s": setup["prewarm_join_s"],
        "session.first_op_s": setup["first_op_s"],
        "session.persisted_rdds_delta": per_pass(lambda r: r.rdd_delta),
        "queries.build_s": per_pass(
            lambda r: sum(sp.dur for sp in r.spans if sp.name == "queries.build")),
        "queries.build_jobs": per_pass(
            lambda r: sum(len(sp.jobs) for sp in r.spans if sp.name == "queries.build")),
        "queries.driver_cpu_s": per_pass(
            lambda r: sum(sp.attrs.get("driver_cpu_s", 0.0) for sp in r.spans)),
        "io.input_mb": per_pass(lambda r: _sum_spans(r, bool).input_bytes / 1e6),
        "io.scan_time_s": per_pass(lambda r: _sum_spans(r, bool).scan_time_s),
        "operators.exec_s": per_pass(lambda r: sum(
            sp.dur for sp in r.spans if sp.parent is not None and not_build(sp))),
    }
    for key, attr, scale in (
        ("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
        ("run_s", "run_s", 1), ("jvm_cpu_s", "jvm_cpu_s", 1),
        ("shuffle_write_mb", "shuffle_write_bytes", 1e-6),
        ("shuffle_read_mb", "shuffle_read_bytes", 1e-6),
        ("spill_mb", "spill_bytes", 1e-6),
    ):
        m[f"operators.{key}"] = per_pass(
            lambda r, a=attr, s=scale: getattr(_sum_spans(r, not_build), a) * s)
    exec_s = m["operators.exec_s"]
    m["operators.core_busy"] = m["operators.run_s"] / (exec_s * cpus) if exec_s else 0.0
    m["worker_daemon.cpu_s"] = per_pass(lambda r: r.cpu["workers"])
    m["worker_daemon.wait_s"] = max(0.0, m["operators.run_s"] - m["operators.jvm_cpu_s"])
    m["worker_daemon.procs"] = per_pass(lambda r: r.worker_procs)

    for metric, span in (
        ("maintenance.commit_append_s", "maintenance.commit_append"),
        ("maintenance.commit_eq_delete_s", "maintenance.commit_eq_delete"),
        ("maintenance.read_snapshot_s", "maintenance.read_snapshot"),
        ("maintenance.read_pruned_s", "maintenance.read_pruned"),
        ("maintenance.time_travel_s", "maintenance.time_travel"),
        ("maintenance.compact_s", "maintenance.compact"),
        ("maintenance.expire_s", "maintenance.expire"),
        ("similarity.ivf_sync_s", "similarity.ivf_sync"),
        ("similarity.ivf_probe_s", "similarity.ivf_probe"),
    ):
        m[metric] = median(_span_durs(traced, span))
    m["maintenance.commit_jobs"] = per_pass(lambda r: sum(
        len(sp.jobs) for sp in r.spans if sp.name.startswith("maintenance.commit")))
    m["similarity.ivf_sync_jobs"] = median(_span_jobs(traced, "similarity.ivf_sync"))
    m["similarity.ivf_probe_jobs"] = median(_span_jobs(traced, "similarity.ivf_probe"))

    hold = isinstance(wl, workloads.HoldingsWorkload)
    m["maintenance.pruned_frac"] = median(wl.pruned) if hold else 0.0
    m["maintenance.files_live"] = extra.get("files_live", 0)
    generated = sum(r.generated for r in traced)
    m["maintenance.write_amp"] = (
        sum(r.written for r in traced) / generated if generated else 0.0)
    m["similarity.cells_rewritten_frac"] = median(wl.sync_cells) if hold else 0.0
    m["similarity.bootstrap_s"] = wl.bootstrap_s if hold else 0.0

    every = traced + untraced
    m["op_s_p50"] = median(o.secs for r in untraced for o in r.ops)
    m["op_s_p90"] = tail_percentile([o.secs for r in every for o in r.ops])[1]
    m["commit_s_p50"] = median(o.secs for r in every for o in r.ops if o.kind == "commit")
    m["read_s_p50"] = median(o.secs for r in every for o in r.ops if o.kind == "read")
    m["index_fresh_s_p50"] = median(wl.fresh) if hold else 0.0
    m["probe_s_p50"] = median(o.secs for r in every for o in r.ops if o.kind == "probe")
    m["space_amp"] = extra.get("space_amp", 0.0)
    m["failed_frac"] = failed_frac

    selfs = [self_times(r.spans) for r in traced]
    for layer in ("queries", "operators", "maintenance", "similarity", "perfbench"):
        m[f"{layer}.self_s"] = median(s.get(layer, 0.0) for s in selfs)
    m["perfbench.trace_overhead_s"] = trace_overhead(traced + untraced)
    return m


def trace_overhead(passes) -> float:
    """Median over traced passes of the pass time minus the mean of the
    untraced passes either side, which cancels a steady drift such as a
    JIT still warming up."""
    secs = {r.index: r.secs for r in passes}
    return median(
        secs[r.index] - (secs[r.index - 1] + secs[r.index + 1]) / 2
        for r in passes
        if r.traced and r.index - 1 in secs and r.index + 1 in secs
    )


def exact_counts(traced) -> dict:
    """Counts that repeat exactly from run to run, kept apart from timings."""
    per_op: dict[str, dict] = {}
    for r in traced:
        for i, sp in enumerate(r.spans):
            op = sp.attrs.get("op")
            if op is None:
                continue
            tot = r.totals.get(i, StageTotals())
            c = per_op.setdefault(f"{op}:{sp.name}", {"jobs": [], "stages": [], "tasks": []})
            c["jobs"].append(tot.jobs)
            c["stages"].append(tot.stages)
            c["tasks"].append(tot.tasks)
    return {
        k: {f: median(v) for f, v in c.items()} for k, c in sorted(per_op.items())
    }


def run(args, work: str, cpus: int, state: dict):
    from crocus_spark.session import get_spark

    wl = workloads.make(args.workload)
    setup = {}
    # from before the JVM starts to the end of the timed passes; the
    # checks in ``wl.finish`` come after
    rss = state["rss"] = RssPeak().start()
    steal0 = steal_s()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            # keep the JVM's files in the run's directory: its temp files,
            # and the perf-counter file HotSpot would put under /tmp.
            # TieredStopAtLevel=1 compiles with C1 only: in a run this
            # short, C2 compilation took most of the JVM's CPU and most of
            # cpu_s's spread, while it left pass times unchanged (NOTES.md)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem"
                " -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    state["spark"] = spark
    setup["build_s"] = time.perf_counter() - t0

    tracer = Tracer(spark, enabled=False)
    ctx = workloads.Ctx(
        spark=spark, data_dir=os.path.join(work, "data"),
        store_dir=os.path.join(work, "store"), seed=args.seed, sf=SF,
        tracer=tracer, digests=workloads.load_digests(),
    )
    t0 = time.perf_counter()
    wl.stage(ctx)
    setup["stage_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_ops = wl.warm(ctx)
    setup["warm_s"] = time.perf_counter() - t0
    setup["first_op_s"] = warm_ops[0].secs
    # the session's background prewarm overlaps the warm pass; whatever
    # of it is left is waited for here, before anything is timed
    t0 = time.perf_counter()
    join_prewarm()
    setup["prewarm_join_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - _T_START

    sampler = TreeSampler()
    jsc = spark.sparkContext._jsc
    passes: list[PassRecord] = []
    t_meas = time.perf_counter()
    # a traced run alternates traced and untraced passes after a first
    # untraced pass that no traced pass is compared with, and ends on an
    # untraced pass: U U T U (T U ...)
    min_passes = 4 if args.trace else 1
    while (len(passes) < min_passes or time.perf_counter() - t_meas < args.seconds
           or (args.trace and passes[-1].traced)):
        i = len(passes)
        traced = bool(args.trace) and i >= 2 and i % 2 == 0
        tracer.enabled = traced
        if traced:
            tracer.skip_past_jobs()
            tracer.spans = []
            rdds = jsc.getPersistentRDDs().size()
            files0 = _files(ctx.store_dir)
            gen0 = getattr(wl, "bytes_generated", 0)
        s0 = sampler.sample()
        t0 = time.perf_counter()
        with tracer.span("perfbench.pass", jobs=False):
            ops = wl.run_pass(ctx, i)
        secs = time.perf_counter() - t0
        s1 = sampler.sample()
        cpu = {g: s1.cpu_s[g] - s0.cpu_s[g] for g in s1.cpu_s}
        rec = PassRecord(i, traced, secs, ops, cpu, len(s1.worker_pids))
        if traced:
            tracer.enabled = False
            rec.spans = tracer.spans
            rec.totals = tracer.harvest(rec.spans)
            rec.rdd_delta = jsc.getPersistentRDDs().size() - rdds
            rec.written = sum(
                n for p, n in _files(ctx.store_dir).items() if p not in files0)
            rec.generated = getattr(wl, "bytes_generated", 0) - gen0
        passes.append(rec)

    peak_rss = rss.stop()
    steal = steal_s() - steal0
    t0 = time.perf_counter()
    finish_errors, extra = wl.finish(ctx, bool(args.trace))
    check_s = time.perf_counter() - t0
    # the warm pass's outputs are the ones checked, so its operations count
    # as attempted too, and a query whose check failed fails every run of it
    timed_ops = [o for r in passes for o in r.ops]
    ops = warm_ops + timed_ops
    for o in ops:
        if o.error is None and o.name in getattr(wl, "wrong", {}):
            o.error = wl.wrong[o.name]
    attempted = len(ops) + getattr(wl, "FINISH_CHECKS", 0)
    failed = sum(o.error is not None for o in ops) + len(finish_errors)
    untraced = [r for r in passes if not r.traced]
    traced_recs = [r for r in passes if r.traced]
    untraced_ops = [o for r in untraced for o in r.ops]
    report = {
        "workload": args.workload, "seed": args.seed, "sf": SF, "cpus": cpus,
        "trace": args.trace, "passes": len(untraced), "traced_passes": len(traced_recs),
        "timed_ops": len(timed_ops), "op_s_p90_percentile": round(tail_percentile(
            [o.secs for o in timed_ops])[0], 4),
        "setup_parts_s": setup,
        "check_s": check_s,
        # CPU time other guests took from this host's CPUs while the run
        # was set up and timed; well above 0, every timing is inflated
        "steal_s": steal,
        "failures": [f"{o.name}: {o.error}" for o in ops if o.error][:5]
        + finish_errors,
        "cpu_split_s": {g: median(r.cpu[g] for r in untraced) for g in untraced[0].cpu},
        "op_s_by_name": _by_name(untraced_ops),
        "pass_s_each": [round(r.secs, 3) for r in passes],
        "cpu_s_each": [{g: round(v, 2) for g, v in r.cpu.items()} for r in passes],
        "warm_op_s": _by_name(warm_ops),
    }
    if args.trace:
        metrics = per_layer_metrics(traced_recs, untraced, setup, wl, extra, cpus,
                                    failed / attempted)
        units = PER_LAYER
        # pass, name, operation id, parent (index within the pass),
        # start and end (s from the first timed pass), Spark jobs
        report["spans"] = [
            [rec.index, sp.name, sp.op_id, sp.parent, round(sp.start - t_meas, 6),
             round(sp.end - t_meas, 6), len(sp.jobs)]
            for rec in traced_recs for sp in rec.spans
        ]
        report["counts"] = {
            "per_op": exact_counts(traced_recs),
            **{k: metrics[k] for k in (
                "operators.jobs", "operators.stages", "operators.tasks",
                "operators.shuffle_write_mb", "operators.shuffle_read_mb",
                "maintenance.files_live", "similarity.cells_rewritten_frac",
                "session.persisted_rdds_delta")},
        }
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(r.secs for r in untraced),
            "cpu_s": median(sum(r.cpu.values()) for r in untraced),
            "peak_rss_mb": peak_rss / 2**20,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return result, report


def _by_name(ops) -> dict[str, float]:
    names = {}
    for o in ops:
        names.setdefault(o.name, []).append(o.secs)
    return {k: round(median(v), 4) for k, v in names.items()}


def _files(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crocus_spark", "session.py")):
        print("perfbench: run from the root of a crocus_spark checkout "
              "(no crocus_spark/session.py here)", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = pin_environment(work)
    sys.path.insert(0, root)
    state = {}
    try:
        result, report = run(args, work, cpus, state)
    finally:
        if "rss" in state:
            state["rss"].stop()
        if "spark" in state:
            stop_spark(state["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
