"""Per-query bench regression pins (r3 verdict task 7): the suite total
hid a single-query 2× regression for two rounds (ann_ivf_topk sat at
~5 s unnoticed). bench_budgets.json checks in a 1.5×-of-BENCH_r03 budget
per headline query; bench.py surfaces violations in its JSON line. These
tests pin the checking logic and keep the budget file in sync with the
headline registry."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load():
    import sys

    sys.path.insert(0, str(REPO))
    import bench

    return bench


def test_deliberate_slowdown_turns_red():
    bench = _load()
    spec = json.loads((REPO / "bench_budgets.json").read_text())
    name, budget = next(iter(spec["budgets"].items()))
    ok_times = {name: budget * 0.9}
    slow_times = {name: budget * 2.0}
    assert bench.check_budgets(ok_times, spec["sf"]) == []
    assert bench.check_budgets(slow_times, spec["sf"]) == [name]


def test_budgets_only_apply_at_calibrated_sf():
    bench = _load()
    spec = json.loads((REPO / "bench_budgets.json").read_text())
    name, budget = next(iter(spec["budgets"].items()))
    assert bench.check_budgets({name: budget * 5}, 0.01) == []


def test_non_numeric_scaling_probe_fails_before_any_query(monkeypatch):
    """A non-numeric ``$SPARK_GRAFT_SCALING_PROBE`` stops bench.main
    with a message naming the variable BEFORE the registry loads or a
    session starts — not after the five-pass suite, with no JSON line
    printed."""
    import pytest

    bench = _load()

    def too_late(*_a, **_k):
        raise AssertionError("bench ran past the probe check")

    monkeypatch.setattr(bench, "queries", too_late)
    monkeypatch.setattr(bench, "get_spark", too_late)
    monkeypatch.setenv("SPARK_GRAFT_SCALING_PROBE", "lots")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_SCALING_PROBE.*'lots'"):
        bench.main()
    monkeypatch.setenv("SPARK_GRAFT_SCALING_PROBE", "4")
    assert bench._scaling_probe_mult() == 4
    monkeypatch.delenv("SPARK_GRAFT_SCALING_PROBE")
    assert bench._scaling_probe_mult() == 0


def test_budget_file_covers_every_headline_query():
    spec = json.loads((REPO / "bench_budgets.json").read_text())
    from crocus_spark.queries import REGISTRY, queries

    queries()
    heads = {n for n, q in REGISTRY.items() if "headline" in q.tags}
    missing = heads - set(spec["budgets"])
    assert not missing, f"headline queries without a budget: {missing}"


# ---------------------------------------------------------------------------
# Sweep budgets (r4 verdict task #5): the r1-r3 gate-tail regressions all
# happened in NON-headline queries that bench_budgets.json never covered;
# tools/sweep_budgets.json pins every registered query at the gate sf.
# ---------------------------------------------------------------------------


def _load_sweep():
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import sweep

    return sweep


def _result(spec, name, factor):
    """One sweep-result row at ``factor`` × the budget on the spec's
    OWN metric, with the other metric kept under budget — the gate must
    bind on the declared metric only."""
    metric = spec.get("metric", "secs")
    budget = spec["budgets"][name]
    other = "secs" if metric == "cpu_s" else "cpu_s"
    return {name: {metric: budget * factor, other: budget * 0.5}}


def test_sweep_deliberate_slowdown_turns_red():
    sweep = _load_sweep()
    spec = json.loads((REPO / "tools" / "sweep_budgets.json").read_text())
    name = next(iter(spec["budgets"]))
    sf_dir = "/root/testdata/" + spec["sf_dir_basename"]
    ok, _ = sweep.check_sweep_budgets(_result(spec, name, 0.9), sf_dir)
    bad, _ = sweep.check_sweep_budgets(_result(spec, name, 3.0), sf_dir)
    assert ok == []
    assert bad == [name]


def test_sweep_budget_binds_on_cpu_not_wall_once_calibrated():
    """r5 verdict task #5: once the spec's metric is cpu_s, a
    loaded-host WALL inflation with flat CPU must NOT violate — and a
    CPU regression must, even with wall under budget."""
    sweep = _load_sweep()
    spec = json.loads((REPO / "tools" / "sweep_budgets.json").read_text())
    if spec.get("metric", "secs") != "cpu_s":
        import pytest

        pytest.skip("budgets not yet recalibrated on cpu_s")
    name = next(iter(spec["budgets"]))
    budget = spec["budgets"][name]
    sf_dir = "/root/testdata/" + spec["sf_dir_basename"]
    wall_inflated = {name: {"secs": budget * 6.0, "cpu_s": budget * 0.8}}
    cpu_regressed = {name: {"secs": budget * 0.8, "cpu_s": budget * 3.0}}
    assert sweep.check_sweep_budgets(wall_inflated, sf_dir)[0] == []
    assert sweep.check_sweep_budgets(cpu_regressed, sf_dir)[0] == [name]


def test_sweep_budgets_only_bind_at_calibrated_sf():
    sweep = _load_sweep()
    spec = json.loads((REPO / "tools" / "sweep_budgets.json").read_text())
    name = next(iter(spec["budgets"]))
    v, u = sweep.check_sweep_budgets(
        _result(spec, name, 5.0), "/root/testdata/sf0.001"
    )
    assert v == [] and u == []


def test_tree_cpu_counter_sees_own_and_child_cpu():
    """The /proc tree CPU counter must attribute both this process's
    CPU and a live CHILD's CPU to the interval — the property that
    makes sweep budgets load-robust (JVM + worker CPU is where query
    cost actually lands)."""
    import subprocess
    import sys as _sys
    import time as _t

    sweep = _load_sweep()
    c0 = sweep.tree_cpu_seconds()
    # ~0.2s of own CPU
    t_end = _t.process_time() + 0.2
    while _t.process_time() < t_end:
        pass
    # a child that burns ~0.3s CPU and stays alive until we sample
    child = subprocess.Popen(
        [
            _sys.executable,
            "-c",
            "import time\n"
            "e = time.process_time() + 0.3\n"
            "while time.process_time() < e: pass\n"
            "time.sleep(10)",
        ]
    )
    try:
        deadline = _t.monotonic() + 10
        while _t.monotonic() < deadline:
            if sweep.tree_cpu_seconds() - c0 >= 0.45:
                break
            _t.sleep(0.05)
        assert sweep.tree_cpu_seconds() - c0 >= 0.45
    finally:
        child.kill()
        child.wait()


def test_sweep_budget_file_covers_every_registered_query():
    spec = json.loads((REPO / "tools" / "sweep_budgets.json").read_text())
    from crocus_spark.queries import REGISTRY, queries

    queries()
    missing = set(REGISTRY) - set(spec["budgets"])
    assert not missing, (
        f"queries without a sweep budget (recalibrate "
        f"tools/gen_sweep_budgets.py): {missing}"
    )


def test_gen_budgets_never_mixes_cpu_and_wall_units(tmp_path):
    """r6 ADVICE: mixing r6 (cpu_s) and pre-r6 (secs-only) sweep
    outputs must budget on WALL for every query — the metric is decided
    over ALL rows of ALL files first, never flipped mid-accumulation
    (which left CPU and wall seconds in the same median)."""
    import json as _json
    import subprocess
    import sys as _sys
    from pathlib import Path as _P

    tool = _P(__file__).parent.parent / "tools" / "gen_sweep_budgets.py"
    new = tmp_path / "r6.json"  # cpu_s present
    old = tmp_path / "r5.json"  # wall only
    new.write_text(_json.dumps({
        "qa": {"ok": True, "secs": 1.0, "cpu_s": 40.0},
        "qb": {"ok": True, "secs": 2.0, "cpu_s": 80.0},
        "_summary": {},
    }))
    old.write_text(_json.dumps({
        "qa": {"ok": True, "secs": 1.0},
        "qb": {"ok": True, "secs": 2.0},
    }))

    def run(*srcs):
        outp = tmp_path / "budgets.json"
        subprocess.run(
            [_sys.executable, str(tool), *map(str, srcs),
             "--out", str(outp)],
            check=True, capture_output=True,
        )
        return _json.loads(outp.read_text())

    mixed = run(new, old)
    assert mixed["metric"] == "secs"
    # qa median must be wall (1.0), floored at 3 — NOT median(40, 1)*2.5
    assert mixed["budgets"]["qa"] == 3.0
    assert mixed["budgets"]["qb"] == 5.0
    # order independence: pre-r6 file first must give the same result
    assert run(old, new) == mixed
    # homogeneous r6 inputs still budget on CPU with the 10 s floor
    cpu = run(new)
    assert cpu["metric"] == "cpu_s"
    assert cpu["budgets"]["qa"] == 100.0
    assert cpu["budgets"]["qb"] == 200.0


def test_tree_cpu_survives_child_exit():
    """r7: the tree-CPU counter must be MONOTONIC across worker churn —
    a child that burns CPU and then EXITS (reaped) must stay counted
    via the parent's cutime/cstime. The live-only sum measured a
    negative per-query delta the first time a Python worker pool
    teardown landed mid-interval."""
    import subprocess
    import sys as _sys

    sweep = _load_sweep()
    before = sweep.tree_cpu_seconds()
    # a short-lived child burning ~0.3s of CPU, fully reaped by .run()
    subprocess.run(
        [_sys.executable, "-c",
         "i=0\nwhile i < 4_000_000: i += 1"],
        check=True,
    )
    after = sweep.tree_cpu_seconds()
    assert after - before > 0.05, (before, after)
    # and it never goes backwards once the child is gone
    assert sweep.tree_cpu_seconds() >= after - 0.01


def test_invalid_cpu_interval_neither_passes_nor_violates(tmp_path):
    """A pool-teardown-invalidated interval (cpu_s None, cpu_invalid)
    must be excluded from budget comparison — not crash on None, not
    count as a violation, not mask a wall-metric check — and be listed
    for the operator to see."""
    sweep = _load_sweep()
    spec_sf = json.loads(
        (Path(__file__).parent.parent / "tools" / "sweep_budgets.json")
        .read_text()
    )["sf_dir_basename"]
    results = {
        "q1_pricing_summary": {
            "ok": True, "secs": 1.0, "cpu_s": None,
            "cpu_invalid": True, "err": None,
        },
        "flagship_confront": {
            "ok": True, "secs": 1.0, "cpu_s": 1e9, "err": None,
        },
    }
    violations, _unb = sweep.check_sweep_budgets(results, f"/x/{spec_sf}")
    assert "q1_pricing_summary" not in violations  # invalid: skipped
    assert "flagship_confront" in violations  # real overruns still red


def test_tree_cpu_ignores_session_siblings_when_not_leader():
    """r7 ADVICE: from an interactive shell the login session contains
    unrelated jobs; their CPU must not land in per-query deltas. A
    same-session NON-descendant burner (a double-fork orphan of a
    process that is no subreaper) burns ~0.8 cpu-s; the delta must not
    see it."""
    import subprocess
    import sys as _sys

    script = r"""
import os, sys, time
sys.path.insert(0, "/root/repo")
from tools.sweep import tree_cpu_seconds
assert os.getsid(0) != os.getpid(), "launched as leader; test invalid"
pid = os.fork()
if pid == 0:
    if os.fork() == 0:
        # orphan: same session, reparented away from our ppid tree
        e = time.process_time() + 0.8
        while time.process_time() < e:
            pass
        os._exit(0)
    os._exit(0)
os.waitpid(pid, 0)
before = tree_cpu_seconds()
time.sleep(1.2)  # orphan burns its 0.8 cpu-s in this window
print(tree_cpu_seconds() - before)
"""
    out = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True, text=True, check=True,
    )
    delta = float(out.stdout.strip().splitlines()[-1])
    assert delta < 0.4, delta


def test_tree_cpu_counts_orphaned_workers_as_subreaper():
    """A Python worker that outlives its daemon is reparented. Once the
    sweep is a child subreaper (_become_subreaper) the orphan comes to
    the sweep: its CPU counts while it lives (ppid tree) and after it
    exits (reaped by _reap_orphans into the sweep's cutime). Reparented
    to init, the exited orphan's CPU left every counted process."""
    import subprocess
    import sys as _sys

    script = r"""
import os, sys, time
sys.path.insert(0, "/root/repo")
from tools.sweep import _become_subreaper, _reap_orphans, tree_cpu_seconds
_become_subreaper()
pid = os.fork()
if pid == 0:
    if os.fork() == 0:
        e = time.process_time() + 0.8
        while time.process_time() < e:
            pass
        time.sleep(1.0)
        os._exit(0)
    os._exit(0)
os.waitpid(pid, 0)
before = tree_cpu_seconds()
time.sleep(1.2)  # the orphan burns its 0.8 cpu-s, then sleeps
live = tree_cpu_seconds() - before
time.sleep(1.5)  # the orphan has exited
_reap_orphans()
print(live, tree_cpu_seconds() - before)
"""
    out = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True, text=True, check=True, timeout=60,
    )
    live, done = map(float, out.stdout.strip().splitlines()[-1].split())
    assert live > 0.5, live
    assert done > 0.5, done
