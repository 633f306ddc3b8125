"""Batch Spark Data Source over the snapshot store — the SQL-facing
read path that makes the manifest-logged table a first-class Spark
citizen (r10): ``spark.read.format("crocus_snapshot").option("path",
root)`` (options ``version_as_of`` / ``timestamp_as_of``), usable from
plain SQL via a temp view, no Python API required.

The reader pins ONE manifest at plan time (the store's reader
contract), plans one partition per data file, and applies the pinned
delete sets AT SCAN TIME inside each partition — positional deletes as
a row-index drop, equality deletes as a pyarrow anti-join against the
commit's cumulative delete parquet read executor-side — exactly the
Iceberg v2 reader shape (delete files merged into the scan, never a
driver-side row rewrite). Partition parallelism is the store's file
count; each task reads one immutable parquet plus the (churn-sized)
delete sets it needs.

The logical result is identical to ``operators.maintenance
.read_snapshot`` (pinned by the registry query + tests); the point of
the second path is the SURFACE — SQL and non-Python consumers — and
the scan-time delete application, which at 100 TB avoids materializing
a joined view before the first filter. Pins, the file walk, stats
pruning and the delete-set reads all come from
``operators/maintenance.py``, the store's one format owner."""

from __future__ import annotations

import json as _json
import os as _os
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from crocus_spark.operators.maintenance import (
    _latest_committed_schema,
    _manifest_dirs,
    _pin_version,
    _pos_deletes_by_file,
    _prune_files,
    commit_append_dir,
    commit_manifest,
    list_snapshot_versions,
    read_manifest,
)
from crocus_spark.sources.snapshot_stream import _epoch_ms_or_iso


@dataclass
class _SnapFilePartition(InputPartition):
    """One immutable data file of the pinned manifest, plus everything
    the scan needs to apply the pinned delete sets to it."""

    path: str
    dead_positions: list[int] = field(default_factory=list)
    eq_delete_dir: str | None = None  # store-relative cumulative set
    key_columns: list[str] = field(default_factory=list)


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("crocus_snapshot requires option 'path'")
        self.version = _pin_from_options(self.root, options)
        self._schema_json = schema.json()
        self._pa_schema = None
        # Manifest-stats file pruning via the EXPLICIT `prune` option —
        # a JSON object {col: [lo, hi]} applied against the pinned
        # manifest's recorded per-file [min, max] (null bound = open
        # side; files lacking stats are conservatively kept, so pruning
        # can never change results — the caller still filters rows).
        # DELIBERATELY an option, not pushFilters: the Spark 4.1 Python
        # data-source pushdown lifecycle reuses one reader instance
        # across every plan of a shared DataFrame, and a range pushed
        # by a filtered action was measured contaminating a LATER
        # filterless action on the same frame (11561 rows silently
        # became 4391) — an option is stateless per load() and cannot
        # leak. The Python-API twin is read_snapshot_pruned_where.
        self._ranges: dict[str, list] = {}
        prune = options.get("prune")
        if prune:
            parsed = _json.loads(prune)
            if not isinstance(parsed, dict):
                raise ValueError("prune must be a JSON object {col: [lo, hi]}")
            for c, b in parsed.items():
                if not isinstance(b, (list, tuple)) or len(b) != 2:
                    raise ValueError(f"prune[{c!r}] must be [lo, hi]")
                self._ranges[c] = [b[0], b[1]]

    def partitions(self):
        m = read_manifest(self.root, self.version)
        _all, kept = _prune_files(self.root, m, self._ranges)
        # cumulative positional deletes (file -> positions), read once at
        # plan time (churn-sized by the store's contract)
        dead_by_file = _pos_deletes_by_file(self.root, m)
        eq = m.get("deletes")
        eq_dir = eq["data_dir"] if eq is not None else None
        key_cols = list(eq["key_columns"]) if eq is not None else []
        return [
            _SnapFilePartition(
                _os.path.join(d, rel),
                dead_by_file.get(_os.path.basename(rel), []),
                eq_dir,
                key_cols,
            )
            for d, rel, _sz in kept
        ]

    def _arrow_schema(self):
        if self._pa_schema is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self._pa_schema = to_arrow_schema(
                T.StructType.fromJson(_json.loads(self._schema_json))
            )
        return self._pa_schema

    def read(self, partition):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Column-pruned read: only the pinned (possibly `columns`-
        # projected) schema plus the equality-delete key columns are
        # read from the footer up — the parquet scan never touches
        # other columns' pages. Files committed before a column existed
        # lack it physically; intersect with the footer schema and emit
        # typed nulls below (the metadata-only num_rows covers the
        # nothing-present edge).
        pa_schema = self._arrow_schema()
        need = list(
            dict.fromkeys(
                [f.name for f in pa_schema]
                + (
                    list(partition.key_columns)
                    if partition.eq_delete_dir is not None
                    else []
                )
            )
        )
        pf = pq.ParquetFile(partition.path)
        avail = set(pf.schema_arrow.names)
        cols = [c for c in need if c in avail]
        if cols:
            tbl = pf.read(columns=cols)
        else:
            # no requested column exists in this file — carry only the
            # row count (footer metadata) so the null-fill below still
            # emits the right shape
            tbl = pa.table(
                {"__rows__": pa.nulls(pf.metadata.num_rows, pa.int8())}
            )
        if partition.dead_positions:
            mask = np.ones(len(tbl), dtype=bool)
            mask[np.asarray(partition.dead_positions, dtype=np.int64)] = False
            tbl = tbl.filter(pa.array(mask))
        if (
            partition.eq_delete_dir is not None
            and len(tbl)
            and all(c in avail for c in partition.key_columns)
        ):
            # (a file physically lacking a key column stores null keys;
            # nulls never equal, so no eq-delete can match it — skip)
            keys = pq.read_table(
                _os.path.join(self.root, partition.eq_delete_dir),
                columns=list(partition.key_columns),
            ).cast(
                pa.schema(
                    [
                        (c, tbl.schema.field(c).type)
                        for c in partition.key_columns
                    ]
                )
            )
            tbl = tbl.join(
                keys.combine_chunks(),
                keys=list(partition.key_columns),
                join_type="left anti",
            )
        # align to the pinned schema: files committed before a column
        # existed emit typed nulls; physical type drift casts
        pa_schema = self._arrow_schema()
        n = len(tbl)
        have = set(tbl.column_names)
        arrays = []
        for f in pa_schema:
            if f.name in have:
                col = tbl[f.name]
                if col.type != f.type:
                    col = col.cast(f.type)
                arrays.append(col.combine_chunks())
            else:
                arrays.append(pa.nulls(n, f.type))
        yield from pa.table(arrays, schema=pa_schema).to_batches()


def _pin_from_options(root: str, options) -> int:
    """The ONE manifest this reader serves: ``version_as_of``, else
    ``timestamp_as_of`` (all-digit strings are epoch ms), else the
    latest committed version."""
    v = options.get("version_as_of")
    ts = options.get("timestamp_as_of")
    return _pin_version(
        root,
        None if v is None else int(v),
        None if ts is None else _epoch_ms_or_iso(ts),
    )


class SnapshotBatchSource(DataSource):
    """``spark.read.format("crocus_snapshot").option("path", root)`` —
    batch reads of the manifest-logged store with scan-time delete
    application; ``version_as_of`` / ``timestamp_as_of`` time travel."""

    @classmethod
    def name(cls) -> str:
        return "crocus_snapshot"

    def schema(self) -> T.StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("crocus_snapshot requires option 'path'")
        # the newest committed schema at or below the pin (manifests
        # committed without one inherit their predecessor's)
        pin = _pin_from_options(root, self.options)
        s = _latest_committed_schema(root, below=pin + 1)
        if s is None:
            raise ValueError(
                "crocus_snapshot needs manifests with committed writer "
                "schemas (commit via commit_snapshot/commit_append)"
            )
        st = T.StructType.fromJson(s)
        # Explicit projection: option("columns", "a,b") narrows the
        # source schema itself, so every file scan reads ONLY those
        # columns' pages (plus eq-delete keys) — the Spark 4.1 Python
        # data-source API pushes filters but not projections, so
        # without this the SQL-facing path reads full width no matter
        # what the query selects. Symmetrical to the `prune` option
        # (and stateless per load() for the same reader-reuse reason).
        cols = self.options.get("columns")
        if cols:
            want = [c.strip() for c in cols.split(",") if c.strip()]
            have = {f.name: f for f in st.fields}
            missing = [c for c in want if c not in have]
            if missing:
                raise ValueError(
                    f"columns {missing} not in snapshot schema "
                    f"(has: {sorted(have)})"
                )
            st = T.StructType([have[c] for c in want])
        return st

    def reader(self, schema: T.StructType):
        return _SnapshotBatchReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool):
        return _SnapshotBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        return _SnapshotStreamSinkWriter(self.options, schema)


def register_snapshot_source(spark) -> None:
    """Idempotent registration of the ``crocus_snapshot`` format."""
    try:
        spark.dataSource.register(SnapshotBatchSource)
    except Exception as e:  # pragma: no cover - double registration
        if "already" not in str(e).lower():
            raise


# ---------------------------------------------------------------------------
# Write path: df.write.format("crocus_snapshot") — Spark-native atomic
# commits into the manifest log. The DataSourceWriter contract IS the
# store's two-phase protocol: tasks write immutable parquet parts into
# a fresh staging directory (invisible — no manifest references it),
# and only the driver-side commit() links a manifest. A failed job
# aborts by deleting the staging dir; a crashed driver leaves orphans
# that vacuum_orphans reclaims — exactly the crash story every other
# committer in operators/maintenance has.
# ---------------------------------------------------------------------------

from dataclasses import dataclass as _dataclass  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@_dataclass
class _SnapWriteCommit(WriterCommitMessage):
    rel_file: str | None
    n_rows: int


def _write_arrow_part(
    root: str, data_dir: str, schema_json: str, iterator
) -> _SnapWriteCommit:
    """Task-side Arrow part write shared by the batch and streaming
    sinks: RecordBatches stream into one ParquetWriter (cast to the
    pinned schema), two-phase temp → rename, temps named WITHOUT a
    ``.parquet`` suffix so partial files can never be listed as data."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = T.StructType.fromJson(_json.loads(schema_json))
    pa_schema = to_arrow_schema(spark_schema)
    d = _os.path.join(root, data_dir)
    _os.makedirs(d, exist_ok=True)
    fname = f"part-{_uuid.uuid4().hex}.parquet"
    tmp = _os.path.join(d, f".tmp-{fname}.inprogress")
    n = 0
    writer = None
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            if tbl.schema != pa_schema:
                tbl = tbl.cast(pa_schema)
            if writer is None:
                writer = pq.ParquetWriter(tmp, pa_schema)
            writer.write_table(tbl)
            n += len(tbl)
    finally:
        if writer is not None:
            writer.close()
    if n == 0:  # empty partition: contribute no file
        if _os.path.exists(tmp):
            _os.unlink(tmp)
        return _SnapWriteCommit(None, 0)
    _os.replace(tmp, _os.path.join(d, fname))  # two-phase per part
    return _SnapWriteCommit(fname, n)


def _settle_staged(stage: str, messages, move_to: str | None = None):
    """The staged-commit check both sinks run before linking a
    manifest: the commit messages (one successful attempt per task)
    define the committed files, not the staging dir's contents. Refuse
    when a message names a file that is missing; delete every leftover
    no message names (a failed attempt's partial temp, a speculative
    duplicate part). ``move_to`` (created once the check passes)
    receives the named files."""
    _os.makedirs(stage, exist_ok=True)
    committed = {
        m.rel_file
        for m in messages
        if m is not None and m.rel_file is not None
    }
    lost = sorted(committed - set(_os.listdir(stage)))
    if lost:
        raise IOError(
            f"commit message references missing staged file(s) "
            f"{lost} under {stage}; refusing to commit a hole"
        )
    if move_to is not None:
        _os.makedirs(move_to, exist_ok=True)
    for f in _os.listdir(stage):
        path = _os.path.join(stage, f)
        if f not in committed:
            try:
                _os.unlink(path)
            except OSError:
                pass
        elif move_to is not None:
            _os.replace(path, _os.path.join(move_to, f))


class _SnapshotBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("crocus_snapshot requires option 'path'")
        self.overwrite = overwrite
        self._schema_json = schema.json()
        sc = options.get("stats_columns")
        self.stats_columns = (
            [c.strip() for c in sc.split(",") if c.strip()] if sc else None
        )
        self.allow_incompatible = (
            str(options.get("allow_incompatible", "false")).lower() == "true"
        )
        # staging dir chosen ONCE driver-side; every task inherits it
        # through the pickled writer (d- = full state, a- = increment —
        # the prefixes vacuum_orphans knows)
        import uuid as _uuid

        prefix = "d-" if overwrite else "a-"
        self.data_dir = f"{prefix}{_uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        """Arrow-native task write: incoming ``pa.RecordBatch``es stream
        straight into a ``ParquetWriter`` — no Spark Row ever surfaces
        in Python (``DataSourceArrowWriter``, PySpark ≥4.0). Each batch
        is cast to the pinned schema (Spark's Arrow batches carry the
        logical schema; the cast normalizes physical details like
        timestamp units / not-null flags). Temps carry NO ``.parquet``
        suffix, so a task that dies after the ``finally`` close (which
        leaves a valid footer over partial rows) can never be picked up
        by a directory listing — and ``commit()`` additionally deletes
        anything not referenced by a commit message."""
        return _write_arrow_part(self.root, self.data_dir,
                                 self._schema_json, iterator)

    def commit(self, messages):
        """Driver-side commit. The manifest's file list is defined by
        the ``rel_file``s in ``messages`` — the one successful attempt
        per task — NOT by what the staging dir happens to contain:
        a failed-then-retried or speculative task's leftovers (a
        partial ``.tmp-*.inprogress``, or a duplicate renamed part from
        a second successful attempt) are deleted here before the
        manifest is linked, so they can never be committed."""
        # all-empty write: an empty staging dir commits an empty table
        _settle_staged(_os.path.join(self.root, self.data_dir), messages)
        if self.overwrite or not list_snapshot_versions(self.root):
            # full-state commit (mode('overwrite'), or the CREATE case:
            # an append onto a table that does not exist yet)
            commit_manifest(
                self.root,
                self.data_dir,
                schema_json=self._schema_json,
                allow_incompatible=self.allow_incompatible,
                stats_columns=self.stats_columns,
            )
        else:
            commit_append_dir(
                self.root,
                self.data_dir,
                self._schema_json,
                allow_incompatible=self.allow_incompatible,
            )

    def abort(self, messages):
        import shutil as _shutil

        _shutil.rmtree(
            _os.path.join(self.root, self.data_dir), ignore_errors=True
        )


from pyspark.sql.datasource import DataSourceStreamArrowWriter  # noqa: E402


class _SnapshotStreamSinkWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("crocus_snapshot")`` — EXACTLY-ONCE
    streaming appends into the manifest log.

    Tasks of every micro-batch write Arrow parts into ONE staging dir
    (``s-…``, per query run); the per-epoch ``commit(messages,
    batchId)`` MOVES exactly the files the commit messages reference
    into a fresh immutable ``a-…`` dir (leftovers from failed/
    speculative attempts are deleted, same contract as the batch sink)
    and append-commits it with ``txn=(app_id, batchId)`` — Delta's
    idempotent-writes action: the manifest's folded ``txns`` ledger
    makes a REPLAYED micro-batch (crash between the sink commit and
    the engine's checkpoint commit) a no-op, so the store never
    double-counts rows. Pass ``option("txn_app", <stable-id>)`` to key
    the ledger across restarts; without it each query RUN gets a fresh
    app id (exactly-once within the run, at-least-once across a
    restart that replays an already-committed batch — documented)."""

    def __init__(self, options, schema: T.StructType):
        import hashlib as _hashlib

        self.root = options.get("path")
        if not self.root:
            raise ValueError("crocus_snapshot requires option 'path'")
        self._schema_json = schema.json()
        self.allow_incompatible = (
            str(options.get("allow_incompatible", "false")).lower() == "true"
        )
        # The engine instantiates this writer in SEVERAL processes (the
        # task writers and a separate commit-runner), so every derived
        # name must be a pure function of the OPTIONS: the staging dir
        # and the default txn app key off the checkpoint location —
        # unique per query, stable across restarts (which is exactly
        # what makes the txn ledger effective on a replay).
        ckpt = options.get("checkpointLocation") or ""
        key = _hashlib.md5(
            f"{self.root}|{ckpt}|{options.get('txn_app') or ''}".encode()
        ).hexdigest()[:12]
        self.txn_app = options.get("txn_app") or f"crocus-stream-{key}"
        self.data_dir = f"s-{key}"  # staging: vacuum_orphans debris
        self.stats_columns = None

    def write(self, iterator):
        return _write_arrow_part(
            self.root, self.data_dir, self._schema_json, iterator
        )

    def commit(self, messages, batchId):
        import uuid as _uuid

        batch_dir = f"a-{_uuid.uuid4().hex[:12]}"
        dst = _os.path.join(self.root, batch_dir)
        _settle_staged(
            _os.path.join(self.root, self.data_dir), messages, move_to=dst
        )
        if not list_snapshot_versions(self.root):
            # first batch onto a table that does not exist yet CREATES
            # it; the txn ledger rides in via extra
            commit_manifest(
                self.root,
                batch_dir,
                schema_json=self._schema_json,
                allow_incompatible=self.allow_incompatible,
                extra={"txns": {self.txn_app: int(batchId)}},
            )
            return
        v_after = commit_append_dir(
            self.root,
            batch_dir,
            self._schema_json,
            allow_incompatible=self.allow_incompatible,
            txn=(self.txn_app, int(batchId)),
        )
        if batch_dir not in _manifest_dirs(read_manifest(self.root, v_after)):
            # idempotent replay skipped the append: the re-written batch
            # dir is orphan debris — reclaim it now instead of waiting
            # for vacuum
            import shutil as _shutil

            _shutil.rmtree(dst, ignore_errors=True)

    def abort(self, messages, batchId):
        # drop only this epoch's staged leftovers; committed a-… dirs
        # are immutable and already manifest-linked
        stage = _os.path.join(self.root, self.data_dir)
        for f in list(_os.listdir(stage)) if _os.path.isdir(stage) else []:
            try:
                _os.unlink(_os.path.join(stage, f))
            except OSError:
                pass


# ---------------------------------------------------------------------------
# SQL-facing stats-pruning bridge (r11): derive the `prune` option's
# {col: [lo, hi]} ranges from a plain conjunctive WHERE string, per
# load — giving SQL consumers manifest-stats file skipping WITHOUT the
# pushFilters foot-gun (the Spark 4.1 Python-DS pushdown lifecycle
# reuses one reader across every plan of a shared DataFrame; a pushed
# range was measured contaminating a later filterless action — see the
# `prune` option note above). The derived ranges are conservative
# (file-granular, closed bounds, unsupported conjuncts ignored) and
# the row predicate is ALWAYS applied to the returned frame, so
# pruning can never change results.
# ---------------------------------------------------------------------------

import re as _re  # noqa: E402

_NUM_RE = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_LIT_RE = (
    rf"(?:{_NUM_RE}"
    r"|'(?:[^']|'')*'"
    r"|(?:DATE|TIMESTAMP)\s*'[^']*')"
)
_IDENT_RE = r"[A-Za-z_][A-Za-z0-9_]*"


def _parse_literal(tok: str):
    tok = tok.strip()
    m = _re.match(r"^(?:DATE|TIMESTAMP)\s*'(.*)'$", tok, _re.IGNORECASE)
    if m:
        return m.group(1)  # stats store dates/timestamps as ISO strings
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    return float(tok) if ("." in tok or "e" in tok or "E" in tok) else int(tok)


def ranges_from_where(where: str, stat_cols) -> dict:
    """Conservative {col: [lo, hi]} from a conjunctive SQL predicate.

    Handles ``col <op> literal`` / ``literal <op> col`` (=, <, <=, >,
    >=), ``col BETWEEN a AND b`` and ``col IN (a, b, ...)`` joined by
    AND. Any OR / NOT anywhere, or an unrecognized conjunct, derives
    nothing for that conjunct (the expression still filters rows — the
    bridge only ever SKIPS files it can prove dead, it never widens
    results). Only columns in ``stat_cols`` contribute (the source
    fails loudly on a prune column without committed stats)."""
    stat_cols = set(stat_cols)
    if not where or _re.search(r"\b(?:OR|NOT)\b", where, _re.IGNORECASE):
        return {}
    # normalize BETWEEN (its embedded AND would break the conjunct split)
    where = _re.sub(
        rf"({_IDENT_RE})\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE})",
        r"\1 >= \2 AND \1 <= \3",
        where,
        flags=_re.IGNORECASE,
    )
    # split on AND at paren depth 0
    conjuncts, depth, cur = [], 0, []
    for tok in _re.split(r"(\(|\)|\bAND\b)", where, flags=_re.IGNORECASE):
        if tok == "(":
            depth += 1
            cur.append(tok)
        elif tok == ")":
            depth -= 1
            cur.append(tok)
        elif depth == 0 and tok.strip().upper() == "AND":
            conjuncts.append("".join(cur))
            cur = []
        else:
            cur.append(tok)
    conjuncts.append("".join(cur))
    out: dict[str, list] = {}

    def narrow(col, lo, hi):
        if col not in stat_cols:
            return
        cur_lo, cur_hi = out.get(col, [None, None])
        if lo is not None and (cur_lo is None or lo > cur_lo):
            cur_lo = lo
        if hi is not None and (cur_hi is None or hi < cur_hi):
            cur_hi = hi
        out[col] = [cur_lo, cur_hi]

    flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
    for c in conjuncts:
        c = c.strip()
        while c.startswith("(") and c.endswith(")"):
            c = c[1:-1].strip()
        m = _re.match(
            rf"^({_IDENT_RE})\s*(<=|>=|<|>|=)\s*({_LIT_RE})$", c,
            _re.IGNORECASE,
        )
        rev = _re.match(
            rf"^({_LIT_RE})\s*(<=|>=|<|>|=)\s*({_IDENT_RE})$", c,
            _re.IGNORECASE,
        )
        if m:
            col, op, lit = m.group(1), m.group(2), _parse_literal(m.group(3))
        elif rev:
            col, op, lit = (
                rev.group(3),
                flip[rev.group(2)],
                _parse_literal(rev.group(1)),
            )
        else:
            mi = _re.match(
                rf"^({_IDENT_RE})\s+IN\s*\(\s*({_LIT_RE}"
                rf"(?:\s*,\s*{_LIT_RE})*)\s*\)$",
                c,
                _re.IGNORECASE,
            )
            if mi:
                vals = [
                    _parse_literal(v)
                    for v in _re.findall(_LIT_RE, mi.group(2))
                ]
                if vals and len({type(v) for v in vals}) == 1:
                    narrow(mi.group(1), min(vals), max(vals))
            continue
        if op == "=":
            narrow(col, lit, lit)
        elif op in ("<", "<="):
            narrow(col, None, lit)  # closed bound: conservative for <
        else:
            narrow(col, lit, None)
    return {c: b for c, b in out.items() if b != [None, None]}


def read_snapshot_sql(
    spark,
    root: str,
    where: str | None = None,
    columns: str | None = None,
    version_as_of=None,
    timestamp_as_of=None,
):
    """SQL-consumer read of the snapshot store with AUTOMATIC
    manifest-stats file pruning: derives the ``prune`` ranges from
    ``where`` (see :func:`ranges_from_where`), projects ``columns``
    ("a,b,c") into the source schema, loads via the ``crocus_snapshot``
    format, and applies ``where`` as the row filter. Returns
    ``(DataFrame, info)`` with ``info = {"files_total",
    "files_selected", "prune"}`` — the instrumentation a caller (or
    test) asserts skipping on. Results always equal the unpruned
    filtered read: pruning only drops files whose committed [min, max]
    cannot intersect the predicate."""
    register_snapshot_source(spark)
    # one pin for the file counts AND the load, so both see one version
    pin = _pin_from_options(
        root,
        {"version_as_of": version_as_of, "timestamp_as_of": timestamp_as_of},
    )
    m = read_manifest(root, pin)
    stat_cols = (
        m.get("stats_columns") or [] if m.get("file_stats") is not None else []
    )
    ranges = ranges_from_where(where, stat_cols) if where else {}
    entries, kept = _prune_files(root, m, ranges)
    info = {
        "files_total": len(entries),
        "files_selected": len(kept),
        "prune": ranges,
    }
    reader = (
        spark.read.format("crocus_snapshot")
        .option("path", root)
        .option("version_as_of", str(pin))
    )
    if columns:
        reader = reader.option("columns", columns)
    if ranges:
        reader = reader.option("prune", _json.dumps(ranges))
    df = reader.load()
    if where:
        df = df.filter(where)
    return df, info
