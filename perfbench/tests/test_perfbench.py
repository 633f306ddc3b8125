"""Tests of the benchmark's own machinery.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session in this process and run each
workload at sf0.001 with one expected result tampered with; they take a
few minutes. ``-m "not smoke"`` runs the rest in seconds.
"""

import json
import os
import subprocess
import sys
import textwrap
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import proc  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from stats import TAIL_SAMPLES, median, tail_percentile  # noqa: E402


# -- the percentile rule ------------------------------------------------------


@pytest.mark.parametrize("n", [20, 21, 37, 99, 100, 101, 250, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    p, v = tail_percentile(values)
    assert p <= 0.9
    assert sum(x > v for x in values) >= TAIL_SAMPLES
    # and it is the highest such percentile: one rank up leaves fewer
    assert p == 0.9 or sum(x > v + 1 for x in values) < TAIL_SAMPLES


def test_tail_percentile_is_p90_with_enough_samples():
    p, v = tail_percentile([float(i) for i in range(1, 201)])
    assert (p, v) == (0.9, 180.0)


@pytest.mark.parametrize("n", [1, 5, 19])
def test_tail_percentile_falls_back_to_median(n):
    values = [float(i) for i in range(n)]
    assert tail_percentile(values) == (0.5, median(values))


# -- /proc CPU split ------------------------------------------------------------

# A stand-in for the JVM: it renames itself "java" and keeps forking
# short-lived Python children that burn CPU and exit, the way the Python
# worker daemon's forks do. It prints the CPU its children used.
_FAKE_JVM = textwrap.dedent("""
    import ctypes, os, sys, time
    libc = ctypes.CDLL(None)
    libc.prctl(15, b"java", 0, 0, 0)
    t_end = time.monotonic() + float(sys.argv[1])
    while time.monotonic() < t_end:
        pid = os.fork()
        if pid == 0:
            libc.prctl(15, b"python3", 0, 0, 0)
            t = time.process_time()
            while time.process_time() - t < 0.05:
                pass
            os._exit(0)
        os.waitpid(pid, 0)
    c = os.times()
    print(c.children_user + c.children_system, flush=True)
""")


def test_proc_cpu_split_monotonic_across_worker_churn():
    child = subprocess.Popen([sys.executable, "-c", _FAKE_JVM, "2.0"],
                             stdout=subprocess.PIPE, text=True)
    try:
        raw, seen_workers = [], set()
        while child.poll() is None:
            s = proc.tree_cpu(os.getpid())
            raw.append(s.cpu_s["workers"])
            seen_workers |= s.worker_pids
            time.sleep(0.01)
        out, _ = child.communicate(timeout=30)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    assert len(seen_workers) >= 5, "the churn was not observed"
    # exited workers' time moves into the parent's cutime, so the total
    # keeps what they used; a /proc scan is not atomic, so one reading can
    # miss a worker reaped mid-scan, by at most one worker's time
    tick = 1.0 / os.sysconf("SC_CLK_TCK")
    assert all(b >= a - (0.05 + 2 * tick) for a, b in zip(raw, raw[1:])), raw
    assert raw[-1] >= float(out) * 0.8

    sampler = proc.TreeSampler()
    sampler._high["workers"] = max(raw)
    assert sampler.sample().cpu_s["workers"] == max(raw)  # clamped


def test_rss_peak_keeps_a_child_that_exited():
    base = proc.tree_rss_bytes(os.getpid())
    peak = proc.RssPeak(interval=0.02).start()
    subprocess.run([sys.executable, "-c",
                    "import time; b = bytearray(100 << 20); time.sleep(0.5)"], check=True)
    assert proc.tree_rss_bytes(os.getpid()) < base + (50 << 20)
    assert peak.stop() >= base + (90 << 20)


def test_classify_groups_driver_jvm_and_workers():
    tree = [
        proc.ProcInfo(1, 0, "python3", 0.0, 0.0),
        proc.ProcInfo(2, 1, "java", 0.0, 0.0),
        proc.ProcInfo(3, 2, "python3", 0.0, 0.0),
        proc.ProcInfo(4, 3, "python3", 0.0, 0.0),
        proc.ProcInfo(5, 1, "bash", 0.0, 0.0),
    ]
    assert proc.classify(tree, 1) == {
        1: "driver", 2: "jvm", 3: "workers", 4: "workers", 5: "jvm"}


def test_trace_overhead_cancels_linear_drift():
    secs = [12.0, 11.0, 10.5, 9.0, 8.5, 7.0]  # drift of -1 s a pass
    recs = [run.PassRecord(i, i >= 2 and i % 2 == 0, s, [], {}, 0)
            for i, s in enumerate(secs)]
    assert run.trace_overhead(recs) == pytest.approx(0.5)


# -- spans -----------------------------------------------------------------------


def _span(name, parent, start, end):
    return spans.Span(name, 1, parent, start, end)


def test_self_time_subtracts_children_union():
    s = [
        _span("perfbench.pass", None, 0.0, 10.0),
        _span("queries.build", 0, 1.0, 3.0),
        _span("operators.exec", 0, 2.0, 5.0),  # overlaps the first child
        _span("operators.exec", 0, 7.0, 8.0),
        _span("maintenance.compact", 3, 7.2, 7.5),  # grandchild
    ]
    st = spans.self_times(s)
    assert st["perfbench"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["queries"] == pytest.approx(2.0)
    assert st["operators"] == pytest.approx(3.0 + (1.0 - 0.3))
    assert st["maintenance"] == pytest.approx(0.3)


def test_self_time_clips_children_to_parent():
    s = [_span("a.x", None, 0.0, 1.0), _span("b.y", 0, 0.5, 2.0)]
    assert spans.self_times(s)["a"] == pytest.approx(0.5)


def test_tracer_off_records_nothing():
    tr = spans.Tracer(None, enabled=False)
    with tr.span("queries.build", 1) as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_spans_and_attributes_by_time():
    tr = spans.Tracer(None, enabled=True)
    with tr.span("perfbench.pass", jobs=False):
        with tr.span("maintenance.commit_append", 1, op="a") as inner:
            pass
    outer = tr.spans[0]
    assert inner.parent == 0 and outer.parent is None
    assert inner.attrs == {"op": "a"}
    mid = (inner.wall_start_ms + inner.wall_end_ms) / 2
    assert spans._innermost(tr.spans, mid) == 1
    assert spans._innermost(tr.spans, outer.wall_end_ms + 1e6) is None


@pytest.mark.parametrize("text, secs", [
    ("total (min, med, max (stageId: taskId))\n439 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))",
     0.439),
    ("total (min, med, max)\n1.2 s (0.1 s, 0.2 s, 0.3 s)", 1.2),
    ("2.5 m", 150.0),
    ("1,204 ms", 1.204),
])
def test_parse_duration(text, secs):
    assert spans.parse_duration_s(text) == pytest.approx(secs)


# -- definitions ------------------------------------------------------------------


def test_rotation_moves_each_query_by_pass_and_seed():
    names = workloads.CONFRONT_SQL
    orders = [workloads.rotated(names, s) for s in range(len(names))]
    assert {o[0] for o in orders} == set(names)
    assert all(sorted(o) == sorted(names) for o in orders)


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_generator_is_seeded(tmp_path):
    import datagen

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), 0.001, 3)
    datagen.generate(str(b), 0.001, 3)
    datagen.generate(str(c), 0.001, 4)
    for t in datagen.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_holdings_generator_weights_sum_to_whole_funds():
    gen = workloads.HoldingsGen(1, funds=3, per_fund=7, vectors=5)
    pdf = gen.holdings("ishares", 0)
    bp = (pdf["weight"] * 10000).round().astype(int)
    assert (bp.groupby(pdf["isin"]).sum() == 10000).all()
    rows, per = gen.live()
    assert rows == 21 and per["ishares"] == (21, 30000)
    gone = gen.delist()
    assert len(gone) == 2 and gen.live()[0] == 14


def test_empty_directory_fails_without_a_result(tmp_path):
    # only BENCHMARK.json and the benchmark's own files: no engine
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "confront_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- smoke: every workload at sf0.001, with one expected result tampered ---------


@pytest.fixture(scope="module")
def bench_env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench") / "work")
    cpus = run.pin_environment(work)
    sys.path.insert(0, ROOT)
    state = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(run, "SF", 0.001)
        yield work, cpus, state
    if "spark" in state:
        run.stop_spark(state["spark"])


def _run(bench_env, workload, trace=0):
    work, cpus, state = bench_env
    args = run.parse_args(["--workload", workload, "--seed", "2", "--seconds", "0",
                           "--trace", str(trace)])
    store = os.path.join(work, workload)
    return run.run(args, store, cpus, state)


@pytest.mark.smoke
def test_smoke_confront_sql_tampered_oracle(bench_env, monkeypatch):
    from crocus_spark.queries import REGISTRY, queries

    queries()
    q = REGISTRY["q1_pricing_summary"]
    monkeypatch.setattr(q, "oracle", f"SELECT * FROM ({q.oracle}) LIMIT 1")
    result, report = _run(bench_env, "confront_sql")
    assert result["failed"] > 0 and not result["correct"]
    assert all(f.startswith("q1_pricing_summary") for f in report["failures"])


@pytest.mark.smoke
def test_smoke_llm_curation_tampered_digest(bench_env, monkeypatch):
    real = workloads.load_digests()
    bad = json.loads(json.dumps(real))
    for entry in bad.values():
        entry["ann_ivf_topk"][1] = "0" * 64
    monkeypatch.setattr(workloads, "load_digests", lambda: bad)
    result, report = _run(bench_env, "llm_curation")
    assert result["failed"] > 0
    assert all(f.startswith("ann_ivf_topk") for f in report["failures"])


@pytest.mark.smoke
def test_smoke_holdings_ingest_tampered_state(bench_env, monkeypatch):
    real_live = workloads.HoldingsGen.live

    def off_by_one(self, lo=None, hi=None):
        rows, per = real_live(self, lo, hi)
        return rows, dict(per, ishares=(per["ishares"][0] + 1, per["ishares"][1]))

    monkeypatch.setattr(workloads.HoldingsGen, "live", off_by_one)
    result, report = _run(bench_env, "holdings_ingest", trace=1)
    assert result["failed"] > 0
    assert all(f.startswith("read_latest") for f in report["failures"])
    metrics = result["metrics"]
    assert set(metrics) == set(run.PER_LAYER)
    assert metrics["failed_frac"]["value"] > 0
    assert metrics["similarity.ivf_sync_s"]["value"] > 0
