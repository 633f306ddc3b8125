"""Tests for the skew-mitigation helpers (SURVEY.md §4.3): salted plans
must be *bit-identical* to their unsalted equivalents — salting is a
physical rewrite, never a semantic one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crocus_spark.io import load
from crocus_spark.operators import skew as K
from tests.conftest import REPO, SF_SMOKE


def _rowset(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_salted_join_equals_plain_join(spark, sf_dir):
    """Two fixture scales (r4 verdict task #8): AQE's skew/coalesce
    choices are size-driven, and salting must stay value-neutral under
    whichever physical plan each size gets."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").select(
        "o_orderkey", "o_custkey", "c_name"
    )
    salted = K.salted_join(orders, cust, "o_custkey", n_salts=8).select(
        "o_orderkey", "o_custkey", "c_name"
    )
    assert _rowset(plain) == _rowset(salted)
    assert plain.count() == salted.count()


def test_salted_join_left_outer(spark):
    """Outer semantics survive salting: unmatched skewed-side rows keep
    exactly one null-extended output row."""
    ev = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", "user_id")
        .limit(200)
    )
    cust = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = ev.join(cust, "user_id", "left")
    salted = K.salted_join(ev, cust, "user_id", n_salts=4, how="left")
    assert _rowset(plain) == _rowset(salted)


def test_salt_col_deterministic_and_bounded(spark):
    li = load(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    salts = li.select(K.salt_col("l_orderkey", 32).alias("s"))
    mn, mx = salts.agg(F.min("s"), F.max("s")).collect()[0]
    assert 0 <= mn and mx <= 31
    a = salts.groupBy("s").count().collect()
    b = li.select(K.salt_col("l_orderkey", 32).alias("s")).groupBy("s").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bucketed_join_has_no_shuffle(spark):
    """The bucketed-table join must be Exchange-free on BOTH sides: with
    broadcast disabled, the physical plan's join reads bucket i against
    bucket i directly. This is the property that makes the layout pay at
    100 TB — a fact-fact join with zero shuffled bytes."""
    from crocus_spark.queries.sources_q import io_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = io_bucketed_join(spark, SF_SMOKE)
        li = spark.table("bkt_lineitem")
        o = spark.table("bkt_orders")
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and the full aggregate query still returns the right shape
        assert df.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scd2_history_partitions_events_exactly(spark):
    """SCD2 semantic invariants, independent of the SQL oracle: per user,
    versions are contiguous from 1, interval edges chain (valid_to ==
    next valid_from, last is NULL), and n_events sums back to the user's
    event count — the history is an exact partition of the stream."""
    from collections import defaultdict

    from crocus_spark.queries.windows import scd2_event_type_history

    hist = scd2_event_type_history(spark, SF_SMOKE).collect()
    ev_counts = {
        r.user_id: r.n
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per_user = defaultdict(list)
    for r in hist:
        per_user[r.user_id].append(r)
    assert set(per_user) == set(ev_counts)
    for uid, rows in per_user.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r.n_events for r in rows) == ev_counts[uid]
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type
        assert rows[-1].valid_to is None


def test_zorder_files_are_narrow_rectangles(spark):
    """After the z-ordered write, each parquet file's (user_id, day)
    min/max footprint must be a small rectangle on BOTH axes — that's the
    whole point vs a single-column sort (narrow on one axis, full-width
    on the other). Read the footers directly: no Spark in the loop."""
    import glob

    import pyarrow.parquet as pq

    from crocus_spark.queries.sources_q import SCRATCH, io_zorder_prune

    io_zorder_prune(spark, SF_SMOKE).collect()
    files = sorted(glob.glob(f"{SCRATCH}/zorder_events/part-*.parquet"))
    assert len(files) >= 8
    u_spans, d_spans = [], []
    for f in files:
        md = pq.ParquetFile(f).metadata
        umin = dmin = float("inf")
        umax = dmax = float("-inf")
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            cols = {
                row.column(i).path_in_schema: row.column(i).statistics
                for i in range(row.num_columns)
            }
            umin = min(umin, cols["user_id"].min)
            umax = max(umax, cols["user_id"].max)
            ts_min = cols["ts"].min.timestamp()
            ts_max = cols["ts"].max.timestamp()
            dmin = min(dmin, ts_min // 86_400)
            dmax = max(dmax, ts_max // 86_400)
        u_spans.append(umax - umin)
        d_spans.append(dmax - dmin)
    # global spans: user 0..149 (sf0.001 ~ similar), days ~30. A z-curve
    # file should cover well under half of each axis for most files.
    assert sorted(u_spans)[len(u_spans) // 2] <= 80, u_spans
    assert sorted(d_spans)[len(d_spans) // 2] <= 16, d_spans


def test_compaction_collapses_files_and_keeps_clustering(spark):
    """The compaction rewrite must (a) hit the byte-derived target file
    count, (b) preserve every row, and (c) leave doc_id range-clustered
    so footer min/max skipping still works — non-overlapping id ranges
    across files. Footers are read directly, no Spark in the loop."""
    from crocus_spark.operators.maintenance import (
        parquet_data_files,
        snapshot_data_path,
    )
    from crocus_spark.queries.maintenance_q import maintenance_compact_files
    from crocus_spark.queries.sources_q import SCRATCH

    import pyarrow.parquet as pq

    n = maintenance_compact_files(spark, SF_SMOKE).count()
    root = f"{SCRATCH}/compact_store"
    frag = parquet_data_files(snapshot_data_path(root, 0))
    out = parquet_data_files(snapshot_data_path(root, 1))
    assert len(frag) == 64
    assert 1 <= len(out) <= 6  # target was total/4 (+range-split slack)
    assert n == sum(
        pq.ParquetFile(f).metadata.num_rows for f, _sz in out
    )
    spans = []
    for f, _sz in out:
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(rg).column(0).statistics.min
            for rg in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(rg).column(0).statistics.max
            for rg in range(md.num_row_groups)
        )
        spans.append((lo, hi))
    spans.sort()
    for (_a_lo, a_hi), (b_lo, _b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo  # disjoint ranges = clustering survived


def test_time_travel_reads_are_isolated(spark):
    """Each committed version must stay byte-stable after later commits:
    v0 < v1 < v2 in coverage, v2 equals the full aggregate, and
    re-reading v0 after v2 exists returns v0's original content."""
    from crocus_spark.operators.maintenance import (
        list_snapshot_versions,
        read_snapshot,
    )
    from crocus_spark.queries.maintenance_q import snapshot_time_travel
    from crocus_spark.queries.sources_q import SCRATCH

    snapshot_time_travel(spark, SF_SMOKE).collect()
    root = f"{SCRATCH}/snapshots"
    assert list_snapshot_versions(root) == [0, 1, 2]
    ev = load(spark, SF_SMOKE, "events")
    full = {
        (r.user_id, r.n_events)
        for r in ev.groupBy("user_id").count().withColumnRenamed(
            "count", "n_events"
        ).collect()
    }
    v2 = {
        (r.user_id, r.n_events)
        for r in read_snapshot(spark, root).select(
            "user_id", "n_events"
        ).collect()
    }
    assert v2 == full
    v0_events = sum(
        r.n_events for r in read_snapshot(spark, root, 0).collect()
    )
    v1_events = sum(
        r.n_events for r in read_snapshot(spark, root, 1).collect()
    )
    v2_events = sum(r.n_events for r in read_snapshot(spark, root).collect())
    assert v0_events < v1_events < v2_events


def test_python_datasource_reads_pages_in_parallel(spark):
    """The custom source must expose one InputPartition per catalog page
    — that's the property that turns the reference's sequential
    <1 product/s loop into an executor-parallel fetch."""
    from crocus_spark.sources import register_catalog_source
    from crocus_spark.sources.catalog_source import PAGE_SIZE, _record

    register_catalog_source(spark)
    df = spark.read.format("crocus_catalog").option("n_products", 500).load()
    assert df.rdd.getNumPartitions() == -(-500 // PAGE_SIZE)  # 25 pages
    rows = {r.product_id: r for r in df.collect()}
    assert len(rows) == 500
    # spot-check the deterministic derivation against the pure function
    for pid in (0, 137, 499):
        expect = _record(pid, pid // PAGE_SIZE)
        got = rows[pid]
        assert (got.page, got.isin, got.currency) == expect[1:4]
        assert abs(got.price - expect[4]) == 0.0


def test_python_datasource_pages_per_task_groups_ranges(spark):
    """pages_per_task groups contiguous pages into one task: task count
    shrinks (ceil(25/5) = 5), while every row — including the logical
    page ids, which stay pid // PAGE_SIZE — is unchanged. The knob
    trades scheduling overhead for per-task fetch sequentiality; it
    must never change WHAT is read."""
    from crocus_spark.sources import register_catalog_source

    register_catalog_source(spark)
    base = spark.read.format("crocus_catalog").option("n_products", 500)
    one = base.load()
    grouped = base.option("pages_per_task", 5).load()
    assert grouped.rdd.getNumPartitions() == 5
    assert sorted(map(tuple, grouped.collect())) == sorted(
        map(tuple, one.collect())
    )


def test_expire_snapshots_keeps_newest_and_time_travel_survives(spark):
    """VACUUM-style retention: oldest versions are deleted, the newest
    keep_last stay readable, and the latest state is unchanged by
    expiry (expiry touches history, never the live table)."""
    from crocus_spark.operators.maintenance import (
        expire_snapshots,
        list_snapshot_versions,
        read_snapshot,
    )
    from crocus_spark.queries.maintenance_q import snapshot_time_travel
    from crocus_spark.queries.sources_q import SCRATCH

    snapshot_time_travel(spark, SF_SMOKE).collect()
    root = f"{SCRATCH}/snapshots"
    assert list_snapshot_versions(root) == [0, 1, 2]
    latest_before = {
        tuple(r) for r in read_snapshot(spark, root).collect()
    }
    assert expire_snapshots(root, keep_last=2) == [0]
    assert list_snapshot_versions(root) == [1, 2]
    assert {tuple(r) for r in read_snapshot(spark, root).collect()} == (
        latest_before
    )
    assert read_snapshot(spark, root, 1).count() > 0


def test_global_row_ids_stay_distributed(spark):
    """The row-id assignment must (a) equal the single-partition
    ROW_NUMBER result exactly and (b) leave the document-bearing path on
    many partitions — the whole point vs a global-window numbering,
    which collapses the table to one partition."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from crocus_spark.operators.corpus import assign_global_row_ids

    from crocus_spark.plans import explain_str

    docs = load(spark, SF_SMOKE, "documents")
    got = assign_global_row_ids(docs, "doc_id", n_shards=32)
    plan = explain_str(got)
    # the ranking window hash-partitions on the shard key — the document
    # path is never range/single-partitioned for a global sort (AQE may
    # still coalesce tiny test data, so assert the plan, not partitions)
    assert "hashpartitioning(_shard" in plan, plan
    naive = docs.withColumn(
        "row_id",
        (F.row_number().over(Window.orderBy("doc_id")) - 1).cast("long"),
    )
    assert {(r.doc_id, r.row_id) for r in got.collect()} == {
        (r.doc_id, r.row_id) for r in naive.collect()
    }


def test_zorder_rewrite_shrinks_file_ranges(spark, tmp_path):
    """The Z-order layout claim, measured from real parquet footers: after
    zorder_rewrite, the average per-file (min, max) extent of BOTH key
    columns is a fraction of the hash-layout extent — the stats data
    skipping needs to prune files for predicates on either column."""
    import pyarrow.parquet as pq
    import os

    from crocus_spark.io import load
    from crocus_spark.operators.maintenance import zorder_rewrite
    from tests.conftest import SF_SMOKE

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    hash_path = str(tmp_path / "hash_layout")
    li.repartition(16).write.mode("overwrite").parquet(hash_path)
    z_path = str(tmp_path / "zorder_layout")
    zorder_rewrite(li, z_path, "l_partkey", "l_suppkey", n_files=16)

    def avg_extent(path, col):
        spans, lo_all, hi_all = [], None, None
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            names = md.schema.names
            ci = names.index(col)
            lo = min(
                md.row_group(i).column(ci).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(ci).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append(hi - lo)
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
        return (sum(spans) / len(spans)) / max(1, hi_all - lo_all)

    for col in ("l_partkey", "l_suppkey"):
        hash_ext = avg_extent(hash_path, col)
        z_ext = avg_extent(z_path, col)
        # hash layout: every file spans ~the whole range (extent ≈ 1);
        # z-order with 16 files must cut both dimensions' extents hard.
        assert hash_ext > 0.9, (col, hash_ext)
        assert z_ext < 0.55 * hash_ext, (col, z_ext, hash_ext)


def test_aqe_splits_skewed_join_partition(spark):
    """The SCALE.md skew claim, executed: a sort-merge join with one
    pathological hot key must come out of AQE with the skewed side SPLIT
    (skew=true on the SortMergeJoin) instead of one straggler task owning
    the whole key — the mechanism that replaces manual salting when skew
    is runtime-discovered. Thresholds are lowered test-scope (fixture
    partitions are KBs; production defaults trigger at 256 MB) and
    restored in finally."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # coalescing first merges the KB-sized test partitions and masks
        # the skew detection at this scale; at production sizes (256 MB
        # default threshold) the two optimizations compose.
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") % 100 < 99, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            # md5 payload: sequential longs compress to almost nothing
            # and the hot partition would duck under the byte threshold
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
        )
        j = left.join(right.hint("merge"), "k").groupBy().count()
        [row] = j.collect()
        assert row["count"] == 300_000
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_bloom_filter_written(spark):
    """io_parquet_bloom_filter's layout contract. Neither pyarrow 16 nor
    this DuckDB exposes bloom offsets in metadata APIs, so the pin is
    functional: writing the SAME rows with the bloom option must add the
    filter bytes (~expected_ndv bits per row group) versus without —
    a deterministic size delta well above footer noise."""
    import glob
    import os

    from crocus_spark.queries import REGISTRY, queries
    from crocus_spark.io import load
    from tests.conftest import SF_SMOKE

    queries()
    REGISTRY["io_parquet_bloom_filter"].fn(spark, SF_SMOKE).count()
    with_bloom = sum(
        os.path.getsize(f)
        for f in glob.glob("/tmp/crocus_spark_io/bloom_orders/*.parquet")
    )
    plain_dir = "/tmp/crocus_spark_io/bloom_orders_plain"
    load(spark, SF_SMOKE, "orders").repartition(4).write.mode(
        "overwrite"
    ).parquet(plain_dir)
    plain = sum(
        os.path.getsize(f) for f in glob.glob(f"{plain_dir}/*.parquet")
    )
    # 4 files x one bloom each at ndv 20000 is ~16 KB minimum extra
    assert with_bloom > plain + 8_000, (with_bloom, plain)


def test_zstd_smaller_than_snappy_on_text(spark):
    """io_compression_codecs' layout claim: zstd parquet of the documents
    table is smaller than snappy — the storage-bill ordering for text."""
    import glob
    import os

    from crocus_spark.queries import REGISTRY, queries
    from tests.conftest import SF_SMOKE

    queries()
    REGISTRY["io_compression_codecs"].fn(spark, SF_SMOKE).count()
    sizes = {}
    for codec in ("snappy", "zstd"):
        sizes[codec] = sum(
            os.path.getsize(f)
            for f in glob.glob(
                f"/tmp/crocus_spark_io/codec_{codec}_docs/*.parquet"
            )
        )
    assert sizes["zstd"] < sizes["snappy"], sizes


def test_session_factory_pins_scale_confs(spark):
    """The session factory's scale-critical settings must survive
    refactors: AQE on with SIZE-based coalescing (r5:
    parallelismFirst=false — the default refuses to coalesce below the
    core count, so every kilobyte shuffle launches a full-width stage),
    skew-join handling, ANSI mode, and UTC (the oracle-comparability
    pins)."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        == "false"
    )
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.ansi.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    # r6: python workers fork from the pre-importing daemon — without
    # it the first cores-wide Arrow stage pays ~1.2 s × cores of
    # pandas/pyarrow imports (5.5 s idle, ~20 s under host load)
    assert (
        conf.get("spark.python.daemon.module")
        == "crocus_spark.worker_daemon"
    )


def test_worker_daemon_preimports_reach_workers(spark):
    """Forked python workers must inherit the daemon's pre-imported
    modules copy-on-write: a probe UDF that checks sys.modules WITHOUT
    importing the engine package must see the operator modules already
    loaded. If the daemon wiring regresses (conf dropped, import error
    swallowed), workers cold-import per fork and this flags it."""
    import pandas as pd

    def probe(batches):
        import sys

        hit = int(
            "crocus_spark.operators.pdfcodec" in sys.modules
            and "numpy" in sys.modules
        )
        for b in batches:
            yield pd.DataFrame({"hit": [hit] * len(b)})

    rows = (
        spark.range(0, 4, 1, 4).mapInPandas(probe, "hit int").collect()
    )
    assert rows and all(r["hit"] == 1 for r in rows)


def _python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python descendants (the worker daemon and its
    forked workers), read from /proc the way tools/sweep.py reads the
    process tree: utime+stime of each live process plus its reaped
    children's cutime+cstime."""
    import os

    info = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                st = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        rest = st[st.rfind(b")") + 2 :].split()
        cpu = sum(int(x) for x in rest[11:15])
        info[int(pid)] = (int(rest[1]), cpu, argv0)
    children = {}
    for pid, (ppid, _cpu, _argv0) in info.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, list(children.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        _ppid, cpu, argv0 = info[pid]
        if os.path.basename(argv0).startswith(b"python"):
            total += cpu
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def test_reused_python_worker_task_cpu_is_small(spark):
    """A reused Python worker must pay no fixed per-task CPU: before the
    worker daemon kept unchanged zip directories and froze its preloaded
    heap, every task re-read pyspark.zip's directory once per importer
    and re-scanned ~74k preloaded objects, 150-190 ms of CPU per task
    even for a no-op (under 5 ms without). Median of 5 no-op 4-task
    mapInArrow stages after a warm-up, Python-worker CPU per task."""
    import statistics

    def noop(batches):
        yield from batches

    jvm = spark.sparkContext._gateway.proc.pid
    stage = spark.range(0, 4, 1, 4).mapInArrow(noop, "id long")
    stage.collect()  # warm-up: start the daemon and its workers
    per_task = []
    for _ in range(5):
        before = _python_worker_cpu_s(jvm)
        assert len(stage.collect()) == 4
        per_task.append((_python_worker_cpu_s(jvm) - before) / 4)
    assert statistics.median(per_task) < 0.025, per_task


_LAZY_WORKERS_SCRIPT = r"""
import json, os, sys, threading, time
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from crocus_spark.session import get_spark, warm_python_workers


def python_children(ppid):
    found = []
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                parent = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if parent == ppid and os.path.basename(argv0).startswith(b"python"):
            found.append(int(p))
    return found


spark = get_spark(app_name="lazy-workers")
jvm = SparkContext._gateway.proc.pid
time.sleep(3)
idle = {"threads": [t.name for t in threading.enumerate()],
        "python": python_children(jvm)}
warm_python_workers(spark)
print(json.dumps({"idle": idle, "used": python_children(jvm)}))
spark.stop()
"""


def test_session_starts_python_workers_on_demand():
    """A fresh session starts no background thread and the JVM starts
    no Python process (a JVM-only workload must not carry idle
    workers); the first Python stage then starts the worker daemon
    synchronously."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _LAZY_WORKERS_SCRIPT, str(REPO)],
        capture_output=True, text=True, check=True, timeout=300, env=env,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert "crocus-spark-prewarm" not in got["idle"]["threads"], got
    assert got["idle"]["python"] == [], got
    assert got["used"], got


def test_spread_rows_floor_is_data_sized(spark):
    """r11 optimization guard: spread(rows_per_task=) derives the
    fan-out from the input's parquet-footer row count instead of the
    core count — a 50-row fixture must not fan to 32 near-empty
    partitions (measured 11.2 cpu_s vs 2.6 for the 32-wide curation
    scoring stage at sf0.01), while an input past cores×rows_per_task
    still gets the full core width."""
    from crocus_spark.io import _scan_rows, load, spread

    docs = load(spark, SF_SMOKE, "documents")
    n = _scan_rows(docs)
    assert n is not None and n > 0
    cores = spark.sparkContext.defaultParallelism
    # heavy-per-row hint: width = ceil(n / rpt), capped at cores
    rpt = max(1, (n + 3) // 4)  # → 4-wide fan-out
    out = spread(docs, spark, cols=("doc_id",), rows_per_task=rpt)
    got = out.rdd.getNumPartitions()
    assert got == min(cores, -(-n // rpt)), (got, n, rpt)
    # rows_per_task >= n → no exchange at all (plan unchanged)
    same = spread(docs, spark, cols=("doc_id",), rows_per_task=n + 1)
    assert same is docs
    # tiny rows_per_task degenerates to the core-count target
    wide = spread(docs, spark, cols=("doc_id",), rows_per_task=1)
    assert wide.rdd.getNumPartitions() == cores


def test_load_schema_memo_skips_inference_job(spark):
    """r11 optimization guard: the SECOND load() of a table passes the
    memoized inferred schema, so no parquet schema-inference job runs
    (the bench protocol paid one ~30 ms single-task job per load of
    every pass). Schemas must be identical object-for-object with the
    inferred one, and a rewritten file (new fingerprint) must re-infer."""
    from crocus_spark.io import load

    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def njobs():
        return len(tracker.getJobIdsForGroup(None))

    first = load(spark, SF_SMOKE, "orders")
    j0 = njobs()
    second = load(spark, SF_SMOKE, "orders")
    assert njobs() == j0, "memoized load must launch no job"
    assert second.schema == first.schema
    assert second.count() == first.count()
