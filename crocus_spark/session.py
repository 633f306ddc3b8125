"""SparkSession factory with the engine's configuration pins.

The reference (crocus) has no runtime configuration at all — it is eager
single-threaded Python (``scripts/webscrapers/ishares.py:190-198``). Here the
equivalent of its hand-optimizations (filter-early, project-early, partition
layout; SURVEY.md §4.1) is delegated to Catalyst, and the session pins make
that delegation deterministic and oracle-comparable:

- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive; the
  oracle diff requires identical wall-clock values.
- ``spark.sql.adaptive.*``: AQE re-plans joins/partitions at runtime — the
  100 TB story (skew-join splitting, partition coalescing) with zero code.
- shuffle partitions default to the local core count; at cluster scale this
  is expected to be overridden (or left to AQE coalescing).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Python workers unpickle module-level UDF functions by importing their
# module; make the package importable in workers regardless of the driver
# process's cwd (the driver harness may launch from anywhere).
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "crocus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local test harnesses get ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    the caller passes ``master=None`` with an external cluster manager and
    the same semantic pins apply.
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + existing if existing else "")
        )
    # transformWithStateInPandas spawns BARE python runners that import
    # the protobuf-generated state protocol. If the environment has no
    # installed google.protobuf but a vendored pure-Python runtime
    # exists on disk, put the alias shim on PYTHONPATH so those
    # processes resolve it too (driver-side code goes through
    # _protobuf_compat.ensure_protobuf directly). No-op when protobuf
    # is properly installed — the shim never shadows a real package.
    try:
        import google.protobuf  # noqa: F401
    except Exception:
        from crocus_spark._protobuf_compat import ensure_protobuf

        if ensure_protobuf():
            shim = str(Path(__file__).resolve().parent / "_vendor_shim")
            cur = os.environ.get("PYTHONPATH", "")
            if shim not in cur.split(os.pathsep):
                os.environ["PYTHONPATH"] = shim + os.pathsep + cur
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (the default) refuses to coalesce below
        # the session parallelism, so a kilobyte shuffle still launches
        # 32 tasks — pure task-launch overhead on small stages, and the
        # Spark tuning guide itself recommends false so the target size
        # is respected. 8 MB advisory keeps plenty of parallelism at
        # fixture scale while a 100 TB shuffle still fans out to
        # thousands of partitions (A/B: full-registry queries 10-40%
        # faster at sf0.01, headline suite 28.0 s → 24.1 s at sf0.1,
        # same protocol).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ANSI mode (SURVEY §4.2): DuckDB-matching cast/overflow semantics —
        # invalid casts/overflow ERROR instead of silently returning NULL;
        # the explicit null-tolerant path is the try_* battery
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # INT96 (the legacy default) writes NO min/max stats — every
        # time-range predicate would scan every file. MICROS restores
        # row-group skipping on timestamp columns (io_zorder_prune relies
        # on it; so does any time-partitioned read at 100 TB).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # TIMESTAMP(NANOS) parquet columns (events.ts) are read as long,
        # then converted in io.load — Spark has no native ns timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture parquet stamps are MICROS with isAdjustedToUTC=false, which
        # Spark 4 would infer as TIMESTAMP_NTZ; read them as session-tz (UTC)
        # TIMESTAMP instead so LTZ-only expressions (unix_micros etc.) resolve
        # and values equal DuckDB's naive-UTC timestamps. A conf, not a cast:
        # casting post-scan would break predicate pushdown on time columns.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Python UDTFs evaluate through Arrow batches
        # (ArrowEvalPythonUDTF) instead of row-at-a-time pickling —
        # same 10-100x Arrow-vs-row argument as pandas UDFs; the
        # registry-wide no-BatchEvalPython detector keeps the whole
        # query surface Arrow-only (tests/test_plans.py).
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Whole-stage-codegen compiled-class cache: the default 100
        # entries thrash under a diverse query mix — the 19-query bench
        # suite alone compiles >100 codegen units, so interleaved passes
        # recompiled (~100 ms each) what consecutive passes got from
        # cache (measured: the same per-query min is ~0.2-0.3 s lower
        # when runs are consecutive; raising the cache closes most of
        # the gap). Scale-neutral: a long-lived cluster serving many
        # query shapes wants exactly the same headroom, and the entries
        # are compiled classes (small) — not data.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Pre-import pandas/pyarrow/numpy + the engine's worker-side
        # operator modules ONCE in the python-worker daemon; forked
        # workers inherit them copy-on-write. Without this, the first
        # cores-wide Arrow stage pays ~1.2 s × cores of import work
        # (measured 5.5 s wall on an idle 32-core host, ~20 s under
        # load — the r5 in-sweep multimodal_pdf_cid_text blowup).
        .config("spark.python.daemon.module", "crocus_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark) -> None:
    """Start the Python worker daemon now, synchronously: one cores-wide
    no-op mapInPandas. Spark starts the daemon on the first Python stage
    anyway; timing harnesses call this in their untimed warm-up so the
    daemon's one-time import chain (~3.5 s) stays out of the first timed
    query, the way a long-lived cluster never pays it per query."""

    def _noop_batches(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_noop_batches, "id long").count()


@contextmanager
def conf_overrides(spark, overrides: dict[str, str | None]):
    """Set session SQL confs for the ``with`` body and restore the
    previous values on exit, error or not — the one scope for a
    temporary session setting (the session is shared by every later
    query, so a leaked setting changes them all). A ``None`` value
    leaves that key untouched. Used for gates calibrated for clusters
    (runtime filters fire only above a 10 GiB application-side scan,
    so test-scale data lifts the gate) and for widths sized to one
    operation (a stream drain, an iterative loop)."""
    overrides = {k: v for k, v in overrides.items() if v is not None}
    old = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, only for a relation the caller's
    RETURNED plan reads: the returned relation owns the blocks, which go
    when the JVM collects its RDD (Spark's ContextCleaner: no bound on
    when). Every other materialization is held by ``intermediates``; the
    one cache outside both is ``ingest.ingest_holdings``' PERMISSIVE
    parse, which the relations it returns read. Not here: a size gate (no
    workload here reaches one) and deferring ``holdings_overlap_confront``'s
    checkpoint out of plan build (r11 measured 0.718× without it)."""
    return df.localCheckpoint(eager=eager)


def _drop_checkpoint(df: DataFrame) -> None:
    # a checkpoint's plan is a LogicalRDD over the cached RDD
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class intermediates:
    """Owner of materialized intermediates: ``own.checkpoint`` and
    ``own.persist`` register a relation, ``own.release`` frees one now (a
    superseded loop round), and whatever is still held is freed when the
    ``with`` block exits, error or not. Never hold a relation the
    returned plan reads: ``materialize`` it, or ``own.keep`` it (the loop
    round that becomes the result, which then owns its blocks)."""

    def __init__(self):
        self._held: list[tuple[DataFrame, object]] = []  # (frame, free)

    def __enter__(self) -> "intermediates":
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            df, free = self._held.pop()
            free(df)

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        self._held.append((materialize(df, eager), _drop_checkpoint))
        return self._held[-1][0]

    def persist(self, df: DataFrame) -> DataFrame:
        self._held.append((df.persist(), DataFrame.unpersist))
        return self._held[-1][0]

    def release(self, df: DataFrame) -> None:
        self._take(df)(df)

    def keep(self, df: DataFrame) -> DataFrame:
        self._take(df)
        return df

    def _take(self, df: DataFrame):
        for i, (held, free) in enumerate(self._held):
            if held is df:
                del self._held[i]
                return free
        raise ValueError("relation is not held by this scope")
