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
re-verification after editing a query.

Output JSON: {name: {"ok": bool|None, "secs": float, "err": str|None}},
plus a "_summary" entry; prints the 15 slowest to stderr.

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

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

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
    definition are absent from the live sum. Linux-only by design: the
    sweep gate runs on the Linux harness."""
    clk = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    info: dict[int, tuple[int, int, int]] = {}
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
            int(rest[3]),                      # session id
            int(rest[11]) + int(rest[12])      # utime+stime (self)
            + int(rest[13]) + int(rest[14]),   # cutime+cstime (reaped kids)
        )
    # membership = ppid tree ∪ same-session: a Spark python worker whose
    # DAEMON dies first reparents to init while still alive — it leaves
    # any ppid tree but keeps the session id, so the sid set keeps its
    # CPU counted (the r7 follow-up to the reaped-children fix: pool
    # crashes mid-sweep still measured -184 cpu-s via reparenting).
    children: dict[int, list[int]] = {}
    for pid, (ppid, _sid, _cpu) in info.items():
        children.setdefault(ppid, []).append(pid)
    members: set[int] = set()
    stack = [me]
    while stack:
        p = stack.pop()
        if p in members or p not in info:
            continue
        members.add(p)
        stack.extend(children.get(p, []))
    # sid union ONLY when this process is its own session leader (the
    # sweep re-execs itself under setsid in main()): from an
    # interactive shell the login session contains the shell and every
    # unrelated concurrent job, whose CPU would land in per-query
    # deltas and trip budget gates on foreign work (r7 ADVICE).
    my_sid = info[me][1] if me in info else -1
    if my_sid == me:
        for pid, (_ppid, sid, _cpu) in info.items():
            if sid == my_sid:
                members.add(pid)
    return sum(info[p][2] for p in members) / clk

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _own_session() -> None:
    """Make the sweep its own session leader so tree_cpu_seconds' sid
    union captures reparented Spark workers WITHOUT unrelated login-
    session siblings. fork + setsid in the child (a process-group
    leader cannot setsid itself); the parent just waits and forwards
    the exit code. Fork happens before any Spark/JVM state exists."""
    if os.getsid(0) == os.getpid():
        return
    pid = os.fork()
    if pid:
        _wpid, status = os.waitpid(pid, 0)
        sys.exit(os.waitstatus_to_exitcode(status))
    os.setsid()


def main() -> int:
    _own_session()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sweep_sf001.json"

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
    if len(sys.argv) > 3:
        pats = sys.argv[3].split(",")
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

    results: dict[str, dict] = {}
    t_all = time.monotonic()
    for name in sorted(qs):
        t0 = time.monotonic()
        c0 = tree_cpu_seconds()
        try:
            if name in osql:
                ok, rep = compare_frames(qs[name](spark, sf_dir), con, osql[name])
                err = None if ok else "; ".join(rep)
            else:
                n = qs[name](spark, sf_dir).count()  # rows-only path
                ok, err = None, None if n >= 0 else "negative count"
        except Exception as ex:  # noqa: BLE001 — record and keep sweeping
            ok, err = False, f"{type(ex).__name__}: {ex}"[:500]
        secs = round(time.monotonic() - t0, 3)
        cpu_s = round(tree_cpu_seconds() - c0, 3)
        if cpu_s < 0:
            # a python worker pool (its daemon runs in its OWN session,
            # workers reparent to init when it dies) was torn down
            # inside this window: accumulated CPU left the visible set
            # faster than this query added any, so the interval
            # measurement is INVALID — record that honestly instead of
            # a bogus negative. Seen only on degraded hosts where
            # stretched walls cross worker idle timeouts; wall time and
            # correctness are unaffected.
            results[name] = {
                "ok": ok, "secs": secs, "cpu_s": None,
                "cpu_invalid": True, "err": err,
            }
        else:
            results[name] = {
                "ok": ok, "secs": secs, "cpu_s": cpu_s, "err": err,
            }
        status = "PASS" if ok else ("rows" if ok is None and not err else "FAIL")
        cpu_str = f"{cpu_s:7.2f}s" if cpu_s >= 0 else "  n/a (pool churn)"
        print(
            f"{status:4s} {secs:7.2f}s cpu={cpu_str} {name}"
            + (f"  {err}" if err else ""),
            flush=True,
        )

    wall = round(time.monotonic() - t_all, 1)
    fails = {k: v for k, v in results.items() if v["ok"] is False}
    full_sweep = len(sys.argv) <= 3  # budgets bind only on full sweeps
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
