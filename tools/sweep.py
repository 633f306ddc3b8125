"""Driver-style full-registry sweep with per-query wall time.

Mirrors the round driver's CORRECTNESS gate (__spark_entry__.queries() vs
oracle_sql() through DuckDB at a fixture scale) and additionally times each
query — the budget the driver has for the whole gate is finite, so per-query
wall time is part of the contract (r1 verdict: only 50/158 queries were
reached; worst offenders were 10-27 s each).

Usage:
    python tools/sweep.py [sf_dir] [out.json] [name1,name2,... | prefix*]
defaults: /root/testdata/sf0.01, /tmp/sweep_sf001.json, all queries
The optional third arg restricts the sweep to a comma-separated name
list (each item may end in ``*`` for a prefix match) — targeted
re-verification after editing a query. ``--help`` prints the usage
and exits before any Spark session starts.

Output JSON: {name: {"ok": bool|None, "secs": float, "cpu_s": float,
"held_rdds": int|None, "err": str|None}}, plus a "_summary" entry;
prints the 15 slowest to stderr. ``held_rdds`` counts the persistent
RDDs the query added that are still held after its action, read while
its result is still referenced (the rule tests/test_oracle.py checks
at sf0.001).

Per-query TIME budgets (r4 verdict task #5): tools/sweep_budgets.json
pins 2.5x the per-query MEDIAN of several fresh uncontended full
sweeps (floor 3 s) at its calibrated sf. A full sweep at that sf
reports overruns in ``_summary.budget_violations`` and exits 2 — the
gate-tail regressions of r1-r3 all happened in NON-headline queries
that bench_budgets.json does not cover. Budgets only bind on full
sweeps (a targeted re-run of one query has different cache warmth);
unbudgeted new queries are listed, never failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# this checkout's package, wherever the tool is run from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGETS_PATH = os.path.join(os.path.dirname(__file__), "sweep_budgets.json")


def check_sweep_budgets(results: dict[str, dict], sf_dir: str):
    """(violations, unbudgeted) for a FULL sweep at the budget file's
    calibrated fixture; ([], []) at any other sf or if no file exists.

    ``results`` maps query name → {"secs": wall, "cpu_s": tree CPU}.
    The spec's ``metric`` field picks which one budgets bind on —
    ``cpu_s`` since r6 (r5 verdict task #5: the judge's sweep exited
    red purely on host-load WALL inflation with zero correctness
    fails; process-tree CPU time is load-invariant for the same work,
    while a real regression — more work — moves CPU and wall alike,
    so the deliberate-3x regression test stays red)."""
    try:
        with open(BUDGETS_PATH) as f:
            spec = json.load(f)
    except OSError:
        return [], []
    if os.path.basename(os.path.normpath(sf_dir)) != spec["sf_dir_basename"]:
        return [], []
    metric = spec.get("metric", "secs")
    budgets = spec["budgets"]

    def measured(r):
        v = r.get(metric)
        # cpu_s None = measurement invalidated by a mid-window worker
        # pool teardown (see tree_cpu_seconds); an invalid interval is
        # neither a pass nor a violation — the row is reported in
        # _summary as cpu_invalid and the next sweep re-measures it
        return v if v is not None else (r["secs"] if metric != "secs" else None)

    violations = sorted(
        n
        for n, r in results.items()
        if n in budgets
        and not r.get("cpu_invalid")
        and measured(r) is not None
        and measured(r) > budgets[n]
    )
    unbudgeted = sorted(n for n in results if n not in budgets)
    return violations, unbudgeted


def tree_cpu_seconds() -> float:
    """Total CPU of this process and every descendant — driver Python,
    the Spark JVM it forked, and the JVM's Python workers — from one
    /proc pass: utime+stime of each LIVE tree process PLUS its
    cutime/cstime (CPU of its already-reaped dead children). The
    waited-children terms are what make the counter MONOTONIC across
    worker-pool churn: when the JVM recycles a Python worker pool, the
    dead workers' CPU folds into the JVM's cutime instead of vanishing
    from the after-snapshot — a live-only sum measured a NEGATIVE
    -346 cpu-s for one query the first time a pool teardown landed
    mid-interval (r7), silently under-counting everything after it. No
    double count: cutime covers only reaped children, which by
    definition are absent from the live sum. A worker whose daemon died
    first is in the tree only because the sweep is a child subreaper
    (see _become_subreaper). Linux-only by design: the sweep gate runs
    on the Linux harness."""
    clk = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    info: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                st = f.read()
        except OSError:
            continue  # raced an exit
        # comm may contain spaces/parens — fields resume after last ')'
        rest = st[st.rfind(b")") + 2 :].split()
        info[int(pid)] = (
            int(rest[1]),                      # ppid
            int(rest[11]) + int(rest[12])      # utime+stime (self)
            + int(rest[13]) + int(rest[14]),   # cutime+cstime (reaped kids)
        )
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in info.items():
        children.setdefault(ppid, []).append(pid)
    members: set[int] = set()
    stack = [me]
    while stack:
        p = stack.pop()
        if p in members or p not in info:
            continue
        members.add(p)
        stack.extend(children.get(p, []))
    return sum(info[p][1] for p in members) / clk


def _become_subreaper() -> None:
    """Make this process the child subreaper of its descendants. A Spark
    Python worker outlives its daemon when the JVM stops a daemon (the
    daemon SIGHUPs its process group and exits): the worker is then
    reparented, by default to init, which reaps it when it exits and
    takes its CPU out of every counted cutime — one cause of the "pool
    churn" drop that made an interval's CPU negative. As a subreaper
    the sweep inherits such orphans instead: live, they stay in the
    ppid tree; exited, _reap_orphans moves their CPU into this
    process's cutime."""
    import ctypes

    pr_set_child_subreaper = 36  # <linux/prctl.h>
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap_orphans() -> None:
    """Wait for every exited child, so the CPU of orphans inherited as
    subreaper lands in this process's cutime before a reading. The
    sweep's only own child, the JVM, exits after the last reading."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Full-registry sweep: every query against its DuckDB "
        "oracle at one fixture scale, with per-query wall and "
        "process-tree CPU time."
    )
    ap.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.01",
        help="fixture directory (default: %(default)s)",
    )
    ap.add_argument(
        "out", nargs="?", default="/tmp/sweep_sf001.json",
        help="result JSON path (default: %(default)s)",
    )
    ap.add_argument(
        "patterns", nargs="?", default=None,
        help="comma-separated query names, each may end in '*' for a "
        "prefix match (default: all queries; sweep budgets bind only "
        "on a full sweep)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    _become_subreaper()
    sf_dir, out_path = args.sf_dir, args.out

    import duckdb

    import __spark_entry__ as e
    from crocus_spark.session import get_spark, warm_python_workers
    from crocus_spark.testing import compare_frames

    spark = get_spark(app_name="sweep")
    # untimed: the per-query cpu_s budgets were calibrated with the
    # Python worker daemon already up, so its bring-up is not charged
    # to whichever Python query sorts first
    warm_python_workers(spark)
    qs, osql = e.queries(), e.oracle_sql()
    if args.patterns is not None:
        pats = args.patterns.split(",")
        qs = {
            k: v
            for k, v in qs.items()
            if any(
                k.startswith(p[:-1]) if p.endswith("*") else k == p
                for p in pats
            )
        }

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    jsc = spark.sparkContext._jsc

    def persistent_rdds() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    results: dict[str, dict] = {}
    t_all = time.monotonic()
    for name in sorted(qs):
        t0 = time.monotonic()
        _reap_orphans()
        c0 = tree_cpu_seconds()
        rdds0, held = persistent_rdds(), None
        try:
            df = qs[name](spark, sf_dir)
            if name in osql:
                ok, rep = compare_frames(df, con, osql[name])
                err = None if ok else "; ".join(rep)
            else:
                n = df.count()  # rows-only path
                ok, err = None, None if n >= 0 else "negative count"
            held = len(persistent_rdds() - rdds0)  # df still referenced
            del df
        except Exception as ex:  # noqa: BLE001 — record and keep sweeping
            ok, err = False, f"{type(ex).__name__}: {ex}"[:500]
        secs = round(time.monotonic() - t0, 3)
        _reap_orphans()
        cpu_s = round(tree_cpu_seconds() - c0, 3)
        if cpu_s < 0:
            # a python worker exited inside this window and its CPU
            # reached no counted cutime: pyspark's daemon ignores
            # SIGCHLD, so the kernel reaps a worker that exits while its
            # daemon lives without charging it to anyone (orphans of a
            # dead daemon are caught by the subreaper). Accumulated CPU
            # left the visible set faster than this query added any, so
            # the interval measurement is INVALID — record that honestly
            # instead of a bogus negative; wall time and correctness are
            # unaffected.
            results[name] = {
                "ok": ok, "secs": secs, "cpu_s": None,
                "cpu_invalid": True, "held_rdds": held, "err": err,
            }
        else:
            results[name] = {
                "ok": ok, "secs": secs, "cpu_s": cpu_s,
                "held_rdds": held, "err": err,
            }
        status = "PASS" if ok else ("rows" if ok is None and not err else "FAIL")
        cpu_str = f"{cpu_s:7.2f}s" if cpu_s >= 0 else "  n/a (pool churn)"
        print(
            f"{status:4s} {secs:7.2f}s cpu={cpu_str} held={held} {name}"
            + (f"  {err}" if err else ""),
            flush=True,
        )

    wall = round(time.monotonic() - t_all, 1)
    fails = {k: v for k, v in results.items() if v["ok"] is False}
    full_sweep = args.patterns is None  # budgets bind only on full sweeps
    violations, unbudgeted = (
        check_sweep_budgets(
            {k: v for k, v in results.items() if k != "_summary"}, sf_dir
        )
        if full_sweep
        else ([], [])
    )
    results["_summary"] = {
        "sf_dir": sf_dir,
        "total_wall_s": wall,
        "n_queries": len(qs),
        "n_fail": len(fails),
        "fails": sorted(fails),
        "budget_violations": violations,
        "unbudgeted": unbudgeted,
        "cpu_invalid": sorted(
            k for k, v in results.items() if v.get("cpu_invalid")
        ),
        "held_rdds": sum(v["held_rdds"] or 0 for v in results.values()),
    }
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)

    slow = sorted(
        ((v["secs"], k) for k, v in results.items() if k != "_summary"),
        reverse=True,
    )[:15]
    print(f"\nwall={wall}s  fails={len(fails)} {sorted(fails)}", file=sys.stderr)
    if violations:
        print(f"BUDGET VIOLATIONS (over sweep_budgets.json): {violations}",
              file=sys.stderr)
    if unbudgeted:
        print(f"unbudgeted queries (new since calibration): {unbudgeted}",
              file=sys.stderr)
    print("slowest:", file=sys.stderr)
    for s, k in slow:
        print(f"  {s:7.2f}s {k}", file=sys.stderr)
    if fails:
        return 1
    return 2 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
