"""Concurrency proofs for the snapshot store's manifest-log commit
protocol (operators/maintenance, r5 verdict "What's missing" #2).

Two REAL OS processes (a writer and a compactor) hammer optimistic
commits against one store while this process continuously pins
manifests and validates what it reads. The invariants:

- a reader NEVER sees a torn version: every file a pinned manifest
  names exists, parses, and carries the committing writer's token;
- optimistic put-if-absent loses no commits: N racing commits produce
  exactly N distinct versions;
- explicit-version put-if-absent has exactly one winner.

The protocol's critical section is pure filesystem (link/replace on a
manifest file), so the test drives it with pyarrow-written parquet —
no second Spark session, real process-level parallelism.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from crocus_spark.operators.maintenance import (
    commit_manifest,
    list_snapshot_versions,
    read_manifest,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Child-process program: `python -c CHILD_SRC <root> <role> <n_commits>`.
# writer: n_commits optimistic commits, each a fresh 3-file data dir
# whose rows all carry the commit's unique token.
# compactor: rewrites the latest version's rows into a 1-file dir and
# commits it as a new version, until it has landed n_commits.
CHILD_SRC = r"""
import os, sys, uuid, time
sys.path.insert(0, %(repo)r)
import pyarrow as pa
import pyarrow.parquet as pq
from crocus_spark.operators.maintenance import (
    commit_manifest, list_snapshot_versions, read_manifest,
)

root, role, n = sys.argv[1], sys.argv[2], int(sys.argv[3])

def write_dir(token, n_files):
    d = "d-" + uuid.uuid4().hex[:12]
    path = os.path.join(root, d)
    os.makedirs(path)
    for i in range(n_files):
        pq.write_table(
            pa.table({"token": [token] * 7, "part": [i] * 7}),
            os.path.join(path, "part-%%03d.parquet" %% i),
        )
    return d

done = 0
while done < n:
    if role == "writer":
        token = "w-" + uuid.uuid4().hex[:8]
        commit_manifest(root, write_dir(token, 3))
        done += 1
    else:
        versions = list_snapshot_versions(root)
        if not versions:
            time.sleep(0.005)
            continue
        m = read_manifest(root, versions[-1])
        src = os.path.join(root, m["data_dir"])
        tabs = [
            pq.read_table(os.path.join(src, f)) for f, _sz in m["files"]
        ]
        token = tabs[0]["token"][0].as_py()
        d = "d-" + uuid.uuid4().hex[:12]
        os.makedirs(os.path.join(root, d))
        pq.write_table(
            pa.concat_tables(tabs),
            os.path.join(root, d, "part-000.parquet"),
        )
        commit_manifest(root, d)
        done += 1
print(role, "ok", done)
"""


def _spawn(root: str, role: str, n: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD_SRC % {"repo": REPO}, root, role, str(n)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _check_pinned_read(root: str, version: int) -> None:
    """Pin one manifest and validate EVERYTHING it names — the reader
    side of the protocol. Any missing/partial/foreign file is a torn
    version."""
    m = read_manifest(root, version)
    assert m["version"] == version
    assert len(m["files"]) == m["n_files"] >= 1
    tokens = set()
    for rel, size in m["files"]:
        p = os.path.join(root, m["data_dir"], rel)
        assert os.path.getsize(p) == size, (version, rel)
        t = pq.read_table(p)
        # writer dirs carry 7 rows/file; compacted dirs 21 (3 files
        # concatenated) — anything else is a torn read
        assert t.num_rows in (7, 21), (version, rel, t.num_rows)
        tokens.update(t["token"].to_pylist())
    assert len(tokens) == 1, (version, tokens)


def test_concurrent_writer_and_compactor_never_tear_readers(tmp_path):
    root = str(tmp_path / "store")
    os.makedirs(root)
    n_writer, n_compactor = 25, 15
    writer = _spawn(root, "writer", n_writer)
    compactor = _spawn(root, "compactor", n_compactor)
    deadline = time.monotonic() + 120
    checked = 0
    try:
        while time.monotonic() < deadline:
            versions = list_snapshot_versions(root)
            if versions:
                # latest plus a mid-history pin — compaction/expiry of
                # OTHER versions must not disturb either
                _check_pinned_read(root, versions[-1])
                _check_pinned_read(root, versions[len(versions) // 2])
                checked += 1
            if writer.poll() is not None and compactor.poll() is not None:
                break
            time.sleep(0.002)
    finally:
        out_w = writer.communicate(timeout=30)
        out_c = compactor.communicate(timeout=30)
    assert writer.returncode == 0, out_w
    assert compactor.returncode == 0, out_c
    assert checked > 10  # the reader loop genuinely overlapped the race
    # no commit lost, none duplicated: exactly one version per commit
    versions = list_snapshot_versions(root)
    assert versions == list(range(n_writer + n_compactor))
    for v in versions:
        _check_pinned_read(root, v)
    # round-10: the race crossed several checkpoint fold points, with
    # BOTH processes folding concurrently (last-writer-wins over
    # identical immutable manifests) — resolution through the folded
    # checkpoint must equal the raw walk at every commit boundary
    import crocus_spark.operators.maintenance as M

    assert M._checkpoint_versions(root), "no checkpoint folded in the race"
    walk = [
        (v, int(read_manifest(root, v)["committed_at_ms"]))
        for v in versions
    ]
    assert M._log_times(root) == walk
    for v, c in walk:
        assert M.resolve_version_as_of(root, c) == v


def test_explicit_version_put_if_absent_single_winner(tmp_path):
    root = str(tmp_path / "store")
    d1 = os.path.join(root, "d-one")
    d2 = os.path.join(root, "d-two")
    for d in (d1, d2):
        os.makedirs(d)
        pq.write_table(
            pa.table({"token": [os.path.basename(d)] * 7, "part": [0] * 7}),
            os.path.join(d, "part-000.parquet"),
        )
    assert commit_manifest(root, "d-one", version=5) == 5
    with pytest.raises(FileExistsError):
        commit_manifest(root, "d-two", version=5)
    assert read_manifest(root, 5)["data_dir"] == "d-one"
    # replace-mode (the streaming replay path) atomically supersedes
    assert commit_manifest(root, "d-two", version=5, replace=True) == 5
    assert read_manifest(root, 5)["data_dir"] == "d-two"
    assert list_snapshot_versions(root) == [5]


def test_manifest_is_the_commit_point(tmp_path):
    """Data directories without a manifest are INVISIBLE: a crashed
    writer (data written, no manifest) leaves no version behind —
    exactly the torn-state class the r5 directory listing exposed."""
    root = str(tmp_path / "store")
    orphan = os.path.join(root, "d-orphan")
    os.makedirs(orphan)
    pq.write_table(
        pa.table({"token": ["x"] * 7}), os.path.join(orphan, "p.parquet")
    )
    assert list_snapshot_versions(root) == []
    commit_manifest(root, "d-orphan")
    assert list_snapshot_versions(root) == [0]
    # manifests are complete JSON even when read mid-race (written to a
    # temp name + linked) — parse every byte back
    m = json.load(
        open(os.path.join(root, "_manifests", "m00000000.json"))
    )
    assert m["data_dir"] == "d-orphan" and m["n_files"] == 1


# ---------------------------------------------------------------------------
# Writer schema in the manifest (r6 verdict task #2): commits record
# their schema, validate it against the table's latest committed schema,
# and a pinned reader learns a version's shape from metadata alone.
# ---------------------------------------------------------------------------

from crocus_spark.operators.maintenance import (  # noqa: E402
    SchemaCompatibilityError,
    expire_snapshots,
    snapshot_schema,
)


def _schema_json(*fields):
    """Spark StructType JSON dict from (name, type, nullable) triples —
    built through pyspark's own types so the dicts match what
    df.schema.json() commits."""
    from pyspark.sql import types as T

    import re as _re

    atomic = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
    }

    def typ(t):
        if t in atomic:
            return atomic[t]
        m = _re.match(r"decimal\((\d+),(\d+)\)\Z", t)
        return T.DecimalType(int(m.group(1)), int(m.group(2)))

    return T.StructType(
        [T.StructField(n, typ(t), nullable) for n, t, nullable in fields]
    ).jsonValue()


def _data_dir(root: str, name: str) -> str:
    path = os.path.join(root, name)
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": [1, 2, 3]}), os.path.join(path, "part-000.parquet")
    )
    return name


def test_schema_recorded_and_readable(tmp_path):
    root = str(tmp_path / "store")
    s0 = _schema_json(("k", "long", True), ("v", "double", True))
    commit_manifest(root, _data_dir(root, "d-0"), schema_json=s0)
    st = snapshot_schema(root, 0)
    assert st is not None and [f.name for f in st.fields] == ["k", "v"]
    assert st.jsonValue() == s0
    # schema-less commits (pre-schema manifests) read back as None
    commit_manifest(root, _data_dir(root, "d-1"))
    assert snapshot_schema(root, 1) is None


def test_schema_additive_nullable_passes_and_gates(tmp_path):
    root = str(tmp_path / "store")
    s0 = _schema_json(("k", "long", True), ("v", "double", True))
    commit_manifest(root, _data_dir(root, "d-0"), schema_json=s0)
    # additive NULLABLE column: allowed
    s1 = _schema_json(
        ("k", "long", True), ("v", "double", True), ("w", "int", True)
    )
    assert commit_manifest(root, _data_dir(root, "d-1"), schema_json=s1) == 1
    # type change: refused, and NO manifest links (version count frozen)
    s_bad = _schema_json(
        ("k", "string", True), ("v", "double", True), ("w", "int", True)
    )
    with pytest.raises(SchemaCompatibilityError, match="type changed"):
        commit_manifest(root, _data_dir(root, "d-2"), schema_json=s_bad)
    # column drop: refused
    with pytest.raises(SchemaCompatibilityError, match="dropped"):
        commit_manifest(
            root, _data_dir(root, "d-3"),
            schema_json=_schema_json(("k", "long", True)),
        )
    # nullable -> required tightening: refused
    s_tight = _schema_json(
        ("k", "long", True), ("v", "double", False), ("w", "int", True)
    )
    with pytest.raises(SchemaCompatibilityError, match="tightened"):
        commit_manifest(root, _data_dir(root, "d-4"), schema_json=s_tight)
    # additive REQUIRED column: refused (old rows have no value for it)
    s_req = _schema_json(
        ("k", "long", True), ("v", "double", True),
        ("w", "int", True), ("z", "int", False),
    )
    with pytest.raises(SchemaCompatibilityError, match="must be nullable"):
        commit_manifest(root, _data_dir(root, "d-5"), schema_json=s_req)
    assert list_snapshot_versions(root) == [0, 1]
    # ... and no temp manifest leaked behind the refused commits
    leftovers = [
        f for f in os.listdir(os.path.join(root, "_manifests"))
        if f.startswith(".tmp-")
    ]
    assert leftovers == []
    # explicit migration override: the SAME incompatible schema commits
    assert commit_manifest(
        root, _data_dir(root, "d-6"), schema_json=s_bad,
        allow_incompatible=True,
    ) == 2


def test_schema_decimal_precision_widening_allowed(tmp_path):
    """sum(decimal(p,s)) re-aggregated widens precision at equal scale —
    Spark's own typing for the snapshot_time_travel merge loop; Iceberg
    allows exactly this promotion."""
    root = str(tmp_path / "store")
    commit_manifest(
        root, _data_dir(root, "d-0"),
        schema_json=_schema_json(("v", "decimal(35,6)", True)),
    )
    assert commit_manifest(
        root, _data_dir(root, "d-1"),
        schema_json=_schema_json(("v", "decimal(38,6)", True)),
    ) == 1
    # narrowing back, or a scale change, is a type change
    with pytest.raises(SchemaCompatibilityError):
        commit_manifest(
            root, _data_dir(root, "d-2"),
            schema_json=_schema_json(("v", "decimal(20,6)", True)),
        )
    with pytest.raises(SchemaCompatibilityError):
        commit_manifest(
            root, _data_dir(root, "d-3"),
            schema_json=_schema_json(("v", "decimal(38,2)", True)),
        )


# ---------------------------------------------------------------------------
# Per-file column stats in the manifest → file-skipping reads
# ---------------------------------------------------------------------------

from crocus_spark.operators.maintenance import (  # noqa: E402
    commit_snapshot,
    read_snapshot_pruned,
)


def _stats_store(spark, tmp_path, n_files=8):
    from pyspark.sql import functions as F

    root = str(tmp_path / "stats_store")
    df = (
        spark.range(0, 8000)
        .withColumn("v", F.pmod("id", F.lit(97)))
        .repartitionByRange(n_files, "id")
        .sortWithinPartitions("id")
    )
    commit_snapshot(df, root, stats_columns=["id"])
    return root


def test_manifest_records_file_stats(spark, tmp_path):
    root = _stats_store(spark, tmp_path)
    m = read_manifest(root, 0)
    assert m["stats_columns"] == ["id"]
    assert len(m["file_stats"]) == m["n_files"] >= 4
    ranges = [tuple(s["id"]) for s in m["file_stats"]]
    # range clustering -> disjoint, ordered-after-sorting rectangles
    for lo, hi in ranges:
        assert 0 <= lo <= hi < 8000
    ranges.sort()
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2  # disjoint
    # every row covered
    assert min(r[0] for r in ranges) == 0
    assert max(r[1] for r in ranges) == 7999


def test_pruned_read_skips_files_and_preserves_results(spark, tmp_path):
    from pyspark.sql import functions as F

    root = _stats_store(spark, tmp_path)
    back, info = read_snapshot_pruned(spark, root, "id", 1000, 2999)
    assert info["files_selected"] < info["files_total"]
    got = back.filter(F.col("id").between(1000, 2999)).agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    assert got["n"] == 2000 and got["s"] == sum(range(1000, 3000))
    # out-of-domain band: zero files, empty frame, committed schema kept
    empty, info0 = read_snapshot_pruned(spark, root, "id", 50000, 60000)
    assert info0["files_selected"] == 0
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "v"]
    # un-statted column refuses loudly instead of mispruning
    with pytest.raises(ValueError, match="no stats"):
        read_snapshot_pruned(spark, root, "v", 0, 1)


# ---------------------------------------------------------------------------
# Equality deletes: zero-copy row-level erasure + expiry refcounting
# ---------------------------------------------------------------------------

from crocus_spark.operators.maintenance import (  # noqa: E402
    commit_equality_deletes,
    read_snapshot,
)


def test_equality_deletes_zero_copy_and_cumulative(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    df = spark.range(0, 100).withColumn("v", F.pmod("id", F.lit(7)))
    commit_snapshot(df, root)
    v1 = commit_equality_deletes(
        spark.range(0, 10).select("id"), root, ["id"]
    )
    v2 = commit_equality_deletes(
        spark.range(90, 100).select("id"), root, ["id"]
    )
    assert (v1, v2) == (1, 2)
    # zero-copy: one shared data dir across all versions
    assert len({read_manifest(root, v)["data_dir"] for v in (0, 1, 2)}) == 1
    # cumulative semantics and time-travel isolation
    assert read_snapshot(spark, root, 0).count() == 100
    assert read_snapshot(spark, root, 1).count() == 90
    got = sorted(r.id for r in read_snapshot(spark, root, 2).collect())
    assert got == list(range(10, 90))
    # key-contract mismatch refuses loudly
    with pytest.raises(ValueError, match="contract"):
        commit_equality_deletes(
            spark.range(0, 1).select(F.col("id").alias("v")), root, ["v"]
        )


def test_expiry_refcounts_shared_data_and_delete_dirs(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.range(0, 50)
    commit_snapshot(df, root)  # v0
    commit_equality_deletes(spark.range(0, 5), root, ["id"])  # v1
    commit_equality_deletes(spark.range(5, 8), root, ["id"])  # v2
    data_dir = read_manifest(root, 0)["data_dir"]
    d1 = read_manifest(root, 1)["deletes"]["data_dir"]
    d2 = read_manifest(root, 2)["deletes"]["data_dir"]
    # dropping v0+v1 must keep the SHARED data dir (v2 references it)
    dropped = expire_snapshots(root, keep_last=1)
    assert dropped == [0, 1]
    assert os.path.isdir(os.path.join(root, data_dir))
    assert not os.path.isdir(os.path.join(root, d1))  # v1's delete set gone
    assert os.path.isdir(os.path.join(root, d2))
    assert read_snapshot(spark, root).count() == 42


# ---------------------------------------------------------------------------
# Branch refs (named pointers) + retention pinning
# ---------------------------------------------------------------------------

from crocus_spark.operators.maintenance import (  # noqa: E402
    get_branch,
    list_branches,
    set_branch,
)


def test_branch_refs_atomic_and_fast_forward_only(tmp_path):
    root = str(tmp_path / "store")
    for i in range(3):
        commit_manifest(root, _data_dir(root, f"d-{i}"))
    set_branch(root, "main", 0)
    set_branch(root, "main", 2)  # forward: ok
    assert get_branch(root, "main") == 2
    with pytest.raises(ValueError, match="fast-forward"):
        set_branch(root, "main", 1)
    set_branch(root, "main", 1, fast_forward_only=False)  # explicit rollback
    assert get_branch(root, "main") == 1
    with pytest.raises(FileNotFoundError):
        set_branch(root, "dev", 99)  # uncommitted version
    with pytest.raises(ValueError, match="invalid ref name"):
        set_branch(root, "../escape", 0)
    set_branch(root, "dev", 0)
    assert list_branches(root) == {"main": 1, "dev": 0}
    # no torn tmp files left beside the refs (lock files are expected)
    assert all(
        f.endswith((".json", ".lock"))
        for f in os.listdir(os.path.join(root, "_refs"))
    )


def test_expiry_never_drops_ref_pinned_versions(tmp_path):
    root = str(tmp_path / "store")
    for i in range(5):
        commit_manifest(root, _data_dir(root, f"d-{i}"))
    set_branch(root, "audit", 0)
    dropped = expire_snapshots(root, keep_last=2)
    # v0 is ref-pinned: survives; v1, v2 expire
    assert dropped == [1, 2]
    assert list_snapshot_versions(root) == [0, 3, 4]
    assert os.path.isdir(os.path.join(root, "d-0"))


def test_compaction_folds_deletes_never_resurrects(spark, tmp_path):
    """Compacting a deletes-carrying version must fold the delete set
    physically — reading the raw data dir would RESURRECT erased rows
    (the bug class this test pins). The compacted version carries no
    delete metadata and reads identically."""
    from crocus_spark.operators.maintenance import compact_snapshot

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 100).repartition(8), root)
    commit_equality_deletes(spark.range(0, 20), root, ["id"])
    assert read_snapshot(spark, root).count() == 80
    v, stats = compact_snapshot(spark, root, target_file_bytes=1 << 30)
    assert stats.get("deletes_folded") is True
    m = read_manifest(root, v)
    assert m.get("deletes") is None  # physical now, no anti-join at read
    got = sorted(r.id for r in read_snapshot(spark, root, v).collect())
    assert got == list(range(20, 100))
    # and expiry of the pre-compaction versions is safe afterwards
    expire_snapshots(root, keep_last=1)
    assert sorted(r.id for r in read_snapshot(spark, root).collect()) == got


def test_pruned_read_scans_only_selected_files(spark, tmp_path):
    """The pruned frame's scan must touch ONLY the manifest-selected
    files — inputFiles() is the plan's own file list, so this pins the
    bytes-read claim, not just result correctness."""
    root = _stats_store(spark, tmp_path)
    m = read_manifest(root, 0)
    back, info = read_snapshot_pruned(spark, root, "id", 1000, 2999)
    assert 0 < info["files_selected"] < info["files_total"]
    assert len(back.inputFiles()) == info["files_selected"]
    # and the selected files are exactly those whose committed range
    # intersects the band
    expected = {
        rel
        for (rel, _sz), st in zip(m["files"], m["file_stats"])
        if st["id"][1] >= 1000 and st["id"][0] <= 2999
    }
    got = {os.path.basename(p) for p in back.inputFiles()}
    assert got == {os.path.basename(r) for r in expected}


def test_concurrent_publishers_never_move_branch_backwards(tmp_path):
    """Two REAL processes race fast-forward publishes over the same
    branch in opposite version orders; a reader polls the ref
    throughout. Invariants: the observed version sequence is
    MONOTONICALLY non-decreasing (the flock'd read-check-replace makes
    the TOCTOU backwards-move impossible) and the final ref is the
    maximum committed version."""
    root = str(tmp_path / "store")
    n_versions = 12
    for i in range(n_versions):
        commit_manifest(root, _data_dir(root, f"d-{i}"))
    set_branch(root, "main", 0)
    publisher = r"""
import os, sys, time
sys.path.insert(0, %(repo)r)
from crocus_spark.operators.maintenance import set_branch
root, order = sys.argv[1], sys.argv[2]
versions = list(range(%(n)d))
if order == "desc":
    versions = versions[::-1]
ok = refused = 0
for v in versions:
    try:
        set_branch(root, "main", v)
        ok += 1
    except ValueError:
        refused += 1  # older than current: correctly refused
    time.sleep(0.001)
print(order, "ok", ok, "refused", refused)
""" % {"repo": REPO, "n": n_versions}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", publisher, root, order],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for order in ("asc", "desc")
    ]
    from crocus_spark.operators.maintenance import get_branch

    seen = [get_branch(root, "main")]
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        seen.append(get_branch(root, "main"))
        if all(p.poll() is not None for p in procs):
            break
        time.sleep(0.001)
    outs = [p.communicate(timeout=30) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    seen.append(get_branch(root, "main"))
    assert seen == sorted(seen), "branch moved backwards"
    assert seen[-1] == n_versions - 1


def test_concurrent_erasers_lose_no_deletes(spark, tmp_path):
    """Lost-delete race (the class the CAS commit exists for): four
    erasers commit disjoint key ranges CONCURRENTLY, each computing its
    cumulative set against whatever version it happened to read. The
    compare-and-swap commit forces a recompute on conflict, so the
    final version's delete set is the union of ALL four — a blind
    optimistic retry would resurrect the winners' keys."""
    import threading

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 400), root)
    ranges = [(0, 50), (100, 150), (200, 250), (300, 350)]
    errors = []

    def erase(lo, hi):
        try:
            commit_equality_deletes(spark.range(lo, hi), root, ["id"])
        except Exception as e:  # surface, don't swallow
            errors.append(e)

    threads = [threading.Thread(target=erase, args=r) for r in ranges]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert list_snapshot_versions(root) == [0, 1, 2, 3, 4]
    got = sorted(r.id for r in read_snapshot(spark, root).collect())
    expected = [
        i for i in range(400)
        if not any(lo <= i < hi for lo, hi in ranges)
    ]
    assert got == expected  # every eraser's keys gone — none resurrected


def test_pruned_read_accepts_temporal_bounds(spark, tmp_path):
    """r7 ADVICE: read_snapshot_pruned compares caller lo/hi against
    manifest stats that were JSON-ified (dates → ISO strings); passing
    datetime.date bounds must prune correctly via the same conversion,
    not raise TypeError — and must agree exactly with ISO-string
    bounds."""
    import datetime

    from pyspark.sql import functions as F

    root = str(tmp_path / "date_store")
    df = (
        spark.range(0, 365)
        .withColumn(
            "day",
            F.date_add(F.to_date(F.lit("2024-01-01")), F.col("id").cast("int")),
        )
        .repartitionByRange(6, "day")
        .sortWithinPartitions("day")
    )
    commit_snapshot(df, root, stats_columns=["day"])
    lo, hi = datetime.date(2024, 3, 1), datetime.date(2024, 3, 31)
    back, info = read_snapshot_pruned(spark, root, "day", lo, hi)
    assert info["files_selected"] < info["files_total"]
    n = back.filter(F.col("day").between(F.lit(lo), F.lit(hi))).count()
    assert n == 31
    back2, info2 = read_snapshot_pruned(
        spark, root, "day", "2024-03-01", "2024-03-31"
    )
    assert info2 == info
    assert back2.count() == back.count()


# ---------------------------------------------------------------------------
# Append commits (multi-dir manifests) + positional deletes
# ---------------------------------------------------------------------------

from crocus_spark.operators.maintenance import (  # noqa: E402
    SchemaCompatibilityError,
    commit_append,
    commit_equality_deletes,
    commit_positional_deletes,
    compact_snapshot,
    manifest_data_files,
    read_snapshot,
    read_snapshot_with_positions,
)


def test_append_commits_are_delta_sized_and_isolated(spark, tmp_path):
    """An append commit writes ONLY the increment: the new version's
    manifest references the previous data untouched plus one fresh dir
    whose bytes are delta-sized, old pinned readers are unaffected, and
    the new version reads the concatenation."""
    root = str(tmp_path / "store")
    base = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS g")
    v0 = commit_snapshot(base.repartition(4), root)
    inc = spark.range(10_000, 10_500).selectExpr(
        "id AS k", "id % 7 AS g"
    ).coalesce(1)  # size the increment's files; 32 near-empty parquet
    # files would be all footer overhead at fixture scale
    v1 = commit_append(inc, root)
    assert read_snapshot(spark, root, v1).count() == 10_500
    assert read_snapshot(spark, root, v0).count() == 10_000  # pinned
    m0, m1 = read_manifest(root, v0), read_manifest(root, v1)
    assert m1["data_dir"] == m0["data_dir"]  # primary untouched
    assert len(m1["append_dirs"]) == 1
    primary_bytes = sum(sz for _r, sz in m1["files"])
    delta_bytes = sum(sz for _r, sz in m1["append_dirs"][0]["files"])
    assert delta_bytes < 0.5 * primary_bytes  # O(delta), not O(table)
    got = sorted(
        r.k for r in read_snapshot(spark, root, v1)
        .filter("k >= 9998").collect()
    )
    assert got == [9998, 9999] + list(range(10_000, 10_500))


def test_append_extends_stats_and_pruned_reads(spark, tmp_path):
    """Appends extend the manifest's per-file stats with THEIR files'
    footer stats, so pruned reads keep planning from the manifest alone
    and a band that lives only in the appended files skips the
    base files entirely."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    base = (
        spark.range(0, 8000).selectExpr("id AS k")
        .repartitionByRange(4, "k").sortWithinPartitions("k")
    )
    commit_snapshot(base, root, stats_columns=["k"])
    inc = (
        spark.range(20_000, 24_000).selectExpr("id AS k")
        .repartitionByRange(2, "k").sortWithinPartitions("k")
    )
    v1 = commit_append(inc, root)
    m = read_manifest(root, v1)
    assert len(m["file_stats"]) == len(manifest_data_files(root, m))
    back, info = read_snapshot_pruned(spark, root, "k", 21_000, 21_999)
    assert info["files_total"] >= 6
    assert info["files_selected"] <= 2  # appended band skips the base
    n = back.filter(F.col("k").between(21_000, 21_999)).count()
    assert n == 1000


def test_append_schema_evolution_gate(spark, tmp_path):
    """Appends pass the same additive-nullable evolution gate as full
    commits: a new nullable column lands (old files read as NULL);
    a type change is refused before any manifest links."""
    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 100).selectExpr("id AS k"), root)
    widened = spark.range(100, 150).selectExpr(
        "id AS k", "nullif(CAST(id AS string), '') AS note"
    )  # nullif keeps the new column NULLABLE — the gate requires it
    v1 = commit_append(widened, root)
    back = read_snapshot(spark, root, v1)
    assert back.count() == 150
    assert back.filter("note IS NULL").count() == 100  # old rows
    assert back.filter("note IS NOT NULL").count() == 50
    bad = spark.range(150, 160).selectExpr("CAST(id AS string) AS k")
    with pytest.raises(SchemaCompatibilityError):
        commit_append(bad, root)
    assert list_snapshot_versions(root) == [0, 1]  # nothing linked


def test_concurrent_appends_lose_no_rows(spark, tmp_path):
    """Lost-append race: four writers append disjoint ranges
    concurrently; the CAS commit (pinned latest+1, metadata-only retry)
    means every append lands exactly once — the final version is the
    base plus ALL four increments."""
    import threading

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 100).selectExpr("id AS k"), root)
    ranges = [(1000, 1050), (2000, 2050), (3000, 3050), (4000, 4050)]
    errors = []

    def append(lo, hi):
        try:
            commit_append(spark.range(lo, hi).selectExpr("id AS k"), root)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=append, args=r) for r in ranges]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors
    assert list_snapshot_versions(root) == [0, 1, 2, 3, 4]
    got = sorted(r.k for r in read_snapshot(spark, root).collect())
    expected = list(range(100)) + [
        i for lo, hi in ranges for i in range(lo, hi)
    ]
    assert got == sorted(expected)


def test_positional_deletes_erase_single_copies(spark, tmp_path):
    """The delete flavor equality deletes CANNOT express: with exact
    duplicate rows, a positional delete erases chosen COPIES by
    physical address, leaving one survivor per group — and readers
    pinned before the delete still see the duplicates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    base = spark.range(0, 500).selectExpr("id AS k", "id % 5 AS g")
    commit_snapshot(base, root)
    dup = spark.range(0, 60).selectExpr("id AS k", "id % 5 AS g")
    v1 = commit_append(dup, root)  # rows 0..59 now exist twice
    wp = read_snapshot_with_positions(spark, root)
    w = Window.partitionBy("k", "g").orderBy("_file", "_pos")
    extras = (
        wp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("_file", "_pos")
    )
    v2 = commit_positional_deletes(extras, root)
    after = read_snapshot(spark, root, v2)
    assert after.count() == 500
    assert after.distinct().count() == 500  # exactly one copy each
    assert read_snapshot(spark, root, v1).count() == 560  # pinned
    # bad input fails loudly
    with pytest.raises(ValueError, match="_file/_pos"):
        commit_positional_deletes(base.limit(1), root)


def test_positional_and_equality_deletes_compose_and_fold(spark, tmp_path):
    """Both delete kinds apply on one read, compaction folds BOTH into
    a physical rewrite (never resurrecting a row), and expiry then
    drops the retired delete dirs once no surviving manifest references
    them."""
    import os as _os

    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    base = spark.range(0, 1000).selectExpr("id AS k", "id % 10 AS g")
    commit_snapshot(base, root)
    wp = read_snapshot_with_positions(spark, root)
    pos = wp.filter(F.col("k") < 100).select("_file", "_pos")
    commit_positional_deletes(pos, root)  # k in [0,100) gone
    commit_equality_deletes(
        spark.createDataFrame([(7,)], "g long"), root, ["g"]
    )  # g == 7 gone
    expected = sorted(
        i for i in range(100, 1000) if i % 10 != 7
    )
    got = sorted(r.k for r in read_snapshot(spark, root).collect())
    assert got == expected
    v, stats = compact_snapshot(spark, root, target_file_bytes=1 << 20)
    assert stats["deletes_folded"]
    m = read_manifest(root, v)
    assert m.get("deletes") is None and m.get("pos_deletes") is None
    assert not m.get("append_dirs")
    got2 = sorted(r.k for r in read_snapshot(spark, root, v).collect())
    assert got2 == expected
    expire_snapshots(root, keep_last=1)
    left = {
        d for d in _os.listdir(root)
        if d.startswith(("pdel-", "del-", "a-"))
    }
    assert left == set()  # retired delete/append dirs vacuumed
    assert sorted(r.k for r in read_snapshot(spark, root).collect()) \
        == expected


def test_vacuum_orphans_reclaims_only_unreferenced(spark, tmp_path):
    """Crashed-writer debris (a data dir with no manifest link, a CAS
    loser's delete dir, a stale manifest temp) is reclaimed; every dir
    ANY manifest references survives, and a fresh orphan inside the
    grace window — possibly an in-flight commit — is never touched."""
    import os as _os
    import time as _time

    from crocus_spark.operators.maintenance import vacuum_orphans

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 100).selectExpr("id AS k"), root)
    commit_append(
        spark.range(100, 120).selectExpr("id AS k").coalesce(1), root
    )
    commit_equality_deletes(
        spark.createDataFrame([(5,)], "k long"), root, ["k"]
    )
    # crashed writer: data written, manifest never linked
    _os.makedirs(_os.path.join(root, "d-deadbeef0001"))
    open(
        _os.path.join(root, "d-deadbeef0001", "part-0.parquet"), "wb"
    ).close()
    _os.makedirs(_os.path.join(root, "pdel-deadbeef02"))
    # stale committer temp in the manifest dir
    open(_os.path.join(root, "_manifests", ".tmp-stale"), "wb").close()
    before = set(_os.listdir(root))
    # grace window: nothing young is touched
    assert vacuum_orphans(root, grace_seconds=3600) == []
    assert set(_os.listdir(root)) == before
    # age everything out, then vacuum
    old = _time.time() - 10
    for entry in ("d-deadbeef0001", "pdel-deadbeef02"):
        _os.utime(_os.path.join(root, entry), (old, old))
    _os.utime(_os.path.join(root, "_manifests", ".tmp-stale"), (old, old))
    removed = vacuum_orphans(root, grace_seconds=1)
    assert set(removed) == {
        "d-deadbeef0001",
        "pdel-deadbeef02",
        _os.path.join("_manifests", ".tmp-stale"),
    }
    # every committed version still reads exactly
    assert read_snapshot(spark, root, 0).count() == 100
    assert read_snapshot(spark, root, 1).count() == 120
    assert read_snapshot(spark, root, 2).count() == 119


def test_positional_delete_refuses_stale_addresses(spark, tmp_path):
    """A positional delete whose addresses predate a REWRITE must be
    refused at commit: the rewritten table no longer contains the named
    files, the anti-join would silently match nothing, and the rows
    would resurrect. Fresh addresses from the rewritten table commit
    fine."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 300).selectExpr("id AS k"), root)
    wp = read_snapshot_with_positions(spark, root)
    doomed = wp.filter(F.col("k") < 10).select("_file", "_pos")
    doomed = doomed.localCheckpoint()  # pin the OLD addresses
    compact_snapshot(spark, root, target_file_bytes=1 << 20)  # rewrite
    with pytest.raises(ValueError, match="stale positional deletes"):
        commit_positional_deletes(doomed, root)
    fresh = (
        read_snapshot_with_positions(spark, root)
        .filter(F.col("k") < 10)
        .select("_file", "_pos")
    )
    v = commit_positional_deletes(fresh, root)
    got = sorted(r.k for r in read_snapshot(spark, root, v).collect())
    assert got == list(range(10, 300))


def _tiny_commit(root, lo=0, hi=10):
    import uuid as _uuid

    d = "d-" + _uuid.uuid4().hex[:12]
    os.makedirs(os.path.join(root, d))
    pq.write_table(
        pa.table({"k": list(range(lo, hi))}),
        os.path.join(root, d, "part-0.parquet"),
    )
    return commit_manifest(root, d)


def test_commit_timestamps_monotone_and_as_of_resolution(tmp_path):
    """Every manifest records committed_at_ms, strictly monotone even
    for commits inside one millisecond — which makes TIMESTAMP AS OF
    resolution unique: the newest version at or before the instant."""
    from crocus_spark.operators.maintenance import resolve_version_as_of

    root = str(tmp_path / "store")
    for i in range(4):
        _tiny_commit(root, i * 10, i * 10 + 10)
    ts = [read_manifest(root, v)["committed_at_ms"] for v in range(4)]
    assert ts == sorted(ts) and len(set(ts)) == 4  # strictly monotone
    for v in range(4):
        assert resolve_version_as_of(root, ts[v]) == v
        if v:
            assert resolve_version_as_of(root, ts[v] - 1) == v - 1
    assert resolve_version_as_of(root, ts[-1] + 10_000) == 3
    with pytest.raises(FileNotFoundError, match="at or before"):
        resolve_version_as_of(root, ts[0] - 1)
    # datetime / ISO-string instants resolve identically
    import datetime

    dt = datetime.datetime.fromtimestamp(
        ts[2] / 1000, tz=datetime.timezone.utc
    )
    assert resolve_version_as_of(root, dt) == 2
    assert resolve_version_as_of(root, dt.isoformat()) == 2


def test_read_snapshot_as_of_reads_that_versions_state(spark, tmp_path):
    from crocus_spark.operators.maintenance import (
        commit_snapshot,
        read_snapshot_as_of,
    )

    root = str(tmp_path / "store")
    commit_snapshot(spark.range(0, 100).selectExpr("id AS k"), root)
    commit_snapshot(spark.range(0, 250).selectExpr("id AS k"), root)
    ts0 = read_manifest(root, 0)["committed_at_ms"]
    ts1 = read_manifest(root, 1)["committed_at_ms"]
    assert read_snapshot_as_of(spark, root, ts0).count() == 100
    assert read_snapshot_as_of(spark, root, ts1 - 1).count() == 100
    assert read_snapshot_as_of(spark, root, ts1).count() == 250


def test_expiry_older_than_is_manifest_time_based(tmp_path):
    """older_than retention keys off manifest committed_at_ms, never
    filesystem mtimes (a restore/copy perturbs those silently): touched
    mtimes don't resurrect expirable versions, and versions without a
    recorded commit time are conservatively kept."""
    from crocus_spark.operators.maintenance import (
        _manifest_file,
        expire_snapshots,
    )

    root = str(tmp_path / "store")
    for i in range(5):
        _tiny_commit(root, i * 10, i * 10 + 10)
    # simulate a restore: every mtime moves to "now"
    now = time.time()
    for v in range(5):
        os.utime(_manifest_file(root, v), (now, now))
    ts = {v: read_manifest(root, v)["committed_at_ms"] for v in range(5)}
    # cutoff between v2 and v3: v0-v2 expirable, keep_last floor holds
    gone = expire_snapshots(root, keep_last=1, older_than=ts[3])
    assert gone == [0, 1, 2]
    assert list_snapshot_versions(root) == [3, 4]
    # a manifest WITHOUT the field (legacy) is never expired by time
    m = read_manifest(root, 3)
    del m["committed_at_ms"]
    with open(_manifest_file(root, 3), "w") as f:
        json.dump(m, f)
    assert expire_snapshots(root, keep_last=1, older_than=ts[4] + 10_000) == [] or (
        3 in list_snapshot_versions(root)
    )
    assert 3 in list_snapshot_versions(root)


def test_compaction_carries_stats_columns(spark, tmp_path):
    """OPTIMIZE must not disable manifest pruning on its own output:
    the compacted manifest carries stats_columns with footer stats
    RECOMPUTED for the rewritten files (r8 ADVICE — they were dropped),
    and pruned reads keep working."""
    from crocus_spark.operators.maintenance import (
        commit_snapshot,
        compact_snapshot,
        read_snapshot_pruned,
    )

    root = str(tmp_path / "store")
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CAST(id % 40 AS long) AS g"
    ).repartitionByRange(8, "k").sortWithinPartitions("k")
    commit_snapshot(df, root, stats_columns=["k"])
    v, _stats = compact_snapshot(
        spark, root, target_file_bytes=4096, sort_col="k"
    )
    m = read_manifest(root, v)
    assert m["stats_columns"] == ["k"]
    assert len(m["file_stats"]) == m["n_files"]
    pruned, info = read_snapshot_pruned(spark, root, "k", 0, 99, version=v)
    assert info["files_selected"] < info["files_total"]
    assert pruned.filter("k BETWEEN 0 AND 99").count() == 100


def test_compaction_lost_race_never_reverts_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """The r8 ADVICE race: an equality delete lands between the
    compactor reading `latest` and its commit. The compaction commit is
    pinned to log-top+1 (CAS), so the stale rewrite LOSES and re-runs
    against the new head — the concurrently deleted rows must stay
    deleted in the compacted result, never resurrect."""
    from crocus_spark.operators import maintenance as M

    root = str(tmp_path / "store")
    M.commit_snapshot(
        spark.range(0, 500).selectExpr("id AS k", "id % 5 AS g"), root
    )
    real_commit = M.commit_manifest
    fired = {"done": False}

    def racing_commit(state_root, data_dir, **kw):
        # first compaction commit attempt: a concurrent eraser lands
        # its delete at the version the compactor wants
        if not fired["done"] and kw.get("version") is not None:
            fired["done"] = True
            M.commit_equality_deletes(
                spark.createDataFrame([(2,)], "g long"), root, ["g"]
            )
        return real_commit(state_root, data_dir, **kw)

    monkeypatch.setattr(M, "commit_manifest", racing_commit)
    v, _stats = M.compact_snapshot(spark, root, target_file_bytes=1 << 20)
    assert fired["done"]
    final = M.read_snapshot(spark, root, v)
    assert final.filter("g = 2").count() == 0  # delete survived the race
    assert final.count() == 400
    # and the compacted manifest carries no delete set (it folded them)
    assert read_manifest(root, v).get("deletes") is None


def test_restore_is_zero_copy_and_preserves_history(spark, tmp_path):
    from crocus_spark.operators.maintenance import (
        commit_append,
        commit_equality_deletes,
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
        restore_snapshot,
    )

    root = str(tmp_path / "store")
    base = spark.range(0, 200).selectExpr("id AS k", "id % 5 AS g")
    commit_snapshot(base.coalesce(1), root)                       # v0
    commit_equality_deletes(
        spark.createDataFrame([(2,)], "g long"), root, ["g"]
    )                                                             # v1
    commit_append(
        spark.range(200, 230).selectExpr("id AS k", "id % 5 AS g")
        .coalesce(1),
        root,
    )                                                             # v2
    v = restore_snapshot(root, 0)
    assert v == 3
    m0, m3 = read_manifest(root, 0), read_manifest(root, 3)
    assert m3["data_dir"] == m0["data_dir"]  # zero bytes copied
    assert m3["restored_from"] == 0
    assert read_snapshot(spark, root).count() == 200  # v0 content back
    # history intact: v2 = (200 - 40 deleted g=2) + (30 appended - 6
    # appended rows the cumulative delete also erases) = 184
    assert read_snapshot(spark, root, 2).count() == 184
    # expiry refcounting: dropping v0-v2 keeps the dir the restore shares
    gone = expire_snapshots(root, keep_last=1)
    assert gone == [0, 1, 2]
    assert read_snapshot(spark, root, 3).count() == 200
    # restoring a nonexistent / legacy version fails loud
    with pytest.raises(FileNotFoundError):
        restore_snapshot(root, 99)


# ---------------------------------------------------------------------------
# manifest-log checkpoints (r9 verdict "What's missing" #1)
# ---------------------------------------------------------------------------


def _walk_times(root):
    """Ground truth: the full O(versions) manifest walk."""
    return [
        (v, read_manifest(root, v).get("committed_at_ms"))
        for v in sorted(list_snapshot_versions(root))
    ]


def _walk_resolve(root, want):
    best = None
    for v, c in _walk_times(root):
        if c is not None and c <= want:
            best = v
    return best


def test_log_checkpoint_folds_every_interval_and_prunes(tmp_path):
    """commit_manifest writes a folded checkpoint every
    CHECKPOINT_INTERVAL versions (Delta's _last_checkpoint cadence) and
    keeps only the newest two; the fold is incremental (entries carried
    forward, only suffix manifests re-read) and captures commit time,
    referenced dirs, and schema presence per version."""
    from crocus_spark.operators.maintenance import (
        _checkpoint_versions,
        latest_log_checkpoint,
    )

    root = str(tmp_path / "store")
    for i in range(55):
        _tiny_commit(root, i, i + 1)  # v0..v54
    assert _checkpoint_versions(root) == [40, 50]  # keep=2 pruning
    ck = latest_log_checkpoint(root)
    assert ck["checkpoint_version"] == 50
    assert sorted(int(k) for k in ck["entries"]) == list(range(51))
    for v in range(51):
        e = ck["entries"][str(v)]
        assert e["committed_at_ms"] == read_manifest(root, v)["committed_at_ms"]
        assert e["dirs"] == [read_manifest(root, v)["data_dir"]]
        assert e["has_schema"] is False


def test_log_checkpoint_resolution_equality_and_o_suffix(tmp_path, monkeypatch):
    """TIMESTAMP AS OF resolution over checkpoint + suffix equals the
    full manifest walk at EVERY commit boundary (ts_v and ts_v - 1),
    and opens only the suffix manifests above the newest checkpoint —
    the O(versions) -> O(suffix) contract."""
    import crocus_spark.operators.maintenance as M

    root = str(tmp_path / "store")
    for i in range(27):
        _tiny_commit(root, i, i + 1)  # v0..v26; checkpoints at 10, 20
    times = _walk_times(root)
    assert M._log_times(root) == [(v, int(c)) for v, c in times]
    for v, c in times:
        assert M.resolve_version_as_of(root, c) == v
        if v:
            assert (
                M.resolve_version_as_of(root, c - 1)
                == _walk_resolve(root, c - 1)
                == v - 1
            )
    # instrument: resolution must NOT read folded manifests
    reads = []
    real = M.read_manifest

    def counting(state_root, version):
        reads.append(version)
        return real(state_root, version)

    monkeypatch.setattr(M, "read_manifest", counting)
    assert M.resolve_version_as_of(root, times[-1][1]) == 26
    assert reads and max(reads) == 26
    assert min(reads) > 20, f"read folded manifests: {sorted(set(reads))}"
    assert len(set(reads)) <= 6  # suffix only (21..26)


def test_log_checkpoint_survives_expiry_and_manifest_loss(tmp_path):
    """Deleting pre-checkpoint manifests (retention expiry) never
    resurrects folded versions: every reader intersects checkpoint
    entries with the live manifest set, so listing, timestamp
    resolution and the next fold all agree with the surviving walk."""
    from crocus_spark.operators.maintenance import (
        expire_snapshots,
        latest_log_checkpoint,
        resolve_version_as_of,
        write_log_checkpoint,
    )
    import crocus_spark.operators.maintenance as M

    root = str(tmp_path / "store")
    for i in range(25):
        _tiny_commit(root, i, i + 1)  # v0..v24, checkpoints at 10, 20
    ts = {v: read_manifest(root, v)["committed_at_ms"] for v in range(25)}
    expire_snapshots(root, keep_last=5)  # v20..v24 survive
    assert list_snapshot_versions(root) == list(range(20, 25))
    # checkpoint still covers 0..20 but expired versions never resolve
    assert M._log_times(root) == [(v, ts[v]) for v in range(20, 25)]
    assert resolve_version_as_of(root, ts[24]) == 24
    # an instant inside the expired range resolves like the survivor
    # walk does: nothing at-or-before -> raise
    with pytest.raises(FileNotFoundError, match="at or before"):
        resolve_version_as_of(root, ts[19])
    # the next fold drops dead entries
    write_log_checkpoint(root)
    ck = latest_log_checkpoint(root)
    assert sorted(int(k) for k in ck["entries"]) == list(range(20, 25))
    assert ck["checkpoint_version"] == 24


def test_replace_commit_below_checkpoint_invalidates_it(tmp_path):
    """replace-mode commits rewrite history a checkpoint may have
    folded — any checkpoint covering the replaced version is dropped so
    resolution can never serve a stale folded timestamp."""
    import uuid as _uuid

    from crocus_spark.operators.maintenance import (
        _checkpoint_versions,
        resolve_version_as_of,
    )

    root = str(tmp_path / "store")
    for i in range(12):
        _tiny_commit(root, i, i + 1)  # v0..v11, checkpoint at 10
    assert _checkpoint_versions(root) == [10]
    d = "d-" + _uuid.uuid4().hex[:12]
    os.makedirs(os.path.join(root, d))
    pq.write_table(
        pa.table({"k": [999]}), os.path.join(root, d, "part-0.parquet")
    )
    commit_manifest(root, d, version=5, replace=True)  # replay below ckpt
    assert _checkpoint_versions(root) == []  # stale fold dropped
    # resolution over the replayed log agrees with the full walk at
    # every surviving boundary (v5's fresh timestamp is now the log's
    # newest, so as-of picks the highest VERSION at or before it: 11)
    t5 = read_manifest(root, 5)["committed_at_ms"]
    assert t5 > read_manifest(root, 11)["committed_at_ms"]
    assert resolve_version_as_of(root, t5) == _walk_resolve(root, t5) == 11
    for v in list_snapshot_versions(root):
        c = read_manifest(root, v)["committed_at_ms"]
        assert resolve_version_as_of(root, c) == _walk_resolve(root, c)


def test_vacuum_and_expire_use_folded_dirs(spark, tmp_path):
    """vacuum_orphans / expire_snapshots reference-count from folded dir
    lists below the fold line; behavior identical to the manifest walk:
    orphans die, referenced dirs survive."""
    import uuid as _uuid

    from crocus_spark.operators.maintenance import vacuum_orphans

    root = str(tmp_path / "store")
    for i in range(12):
        _tiny_commit(root, i, i + 1)  # checkpoint at 10
    orphan = os.path.join(root, "d-" + _uuid.uuid4().hex[:12])
    os.makedirs(orphan)
    pq.write_table(
        pa.table({"k": [1]}), os.path.join(orphan, "part-0.parquet")
    )
    os.utime(orphan, (time.time() - 90_000, time.time() - 90_000))
    removed = vacuum_orphans(root, grace_seconds=86_400)
    assert os.path.basename(orphan) in removed
    # every committed version still reads
    for v in list_snapshot_versions(root):
        m = read_manifest(root, v)
        assert os.path.isdir(os.path.join(root, m["data_dir"]))
