"""The benchmark's workloads.

Each workload stages its inputs, runs one untimed warm pass whose
outputs are checked, and then runs timed passes. A pass is one run
through the workload's operation list; for ``holdings_ingest`` it is one
simulated day. Every operation is a call into the engine's public
functions, wrapped in the spans :mod:`spans` records when tracing is on.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pickle
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from spans import Tracer

CONFRONT_SQL = (
    "flagship_confront", "holdings_overlap_confront", "agg_pivot_confront",
    "holdings_concentration_hhi", "q1_pricing_summary", "sql_tpch_q3",
    "sql_tpch_q5", "sql_tpch_q18", "sql_tpch_q21", "join_sortmerge_large",
    "join_broadcast_dims", "join_asof_events", "window_topk_per_group",
    "sql_topk_customers_per_nation", "basket_copurchase_pairs",
)
LLM_CURATION = (
    "dedup_minhash_survivors", "dedup_ngram_jaccard", "dedup_simhash",
    "corpus_curation_pipeline", "text_quality_score", "text_exact_dedup",
    "corpus_pack_context_windows", "search_bm25_topk", "ann_bruteforce_topk",
    "ann_ivf_topk", "normalize_locale", "products_union_dedup",
)
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_FILE = os.path.join(HERE, "expected.json")


@dataclass
class Op:
    name: str
    kind: str  # query | commit | read | index | probe | maintain
    secs: float
    error: str | None = None


@dataclass
class Ctx:
    spark: object
    data_dir: str  # generated input tables
    store_dir: str  # the workload's own store root
    seed: int
    sf: float
    tracer: Tracer
    digests: dict = field(default_factory=dict)


def rotated(names, offset: int) -> list:
    k = offset % len(names)
    return list(names[k:]) + list(names[:k])


def load_digests() -> dict:
    with open(DIGESTS_FILE) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Query workloads: confront_sql, llm_curation
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Registry queries, each run as ``Query.fn`` then a ``noop`` write."""

    def __init__(self, names):
        self.names = tuple(names)
        self.wrong: dict[str, str] = {}  # query -> why its warm run or check failed
        self._op_id = 0

    def stage(self, ctx: Ctx) -> None:
        from crocus_spark.queries import queries as load_registry

        load_registry()
        datagen.generate(ctx.data_dir, ctx.sf, ctx.seed)

    def warm(self, ctx: Ctx) -> list[Op]:
        """Run every query once and keep its collected rows for the check
        that :meth:`finish` runs in a process of its own."""
        from crocus_spark.queries import REGISTRY

        variant = str(datagen.corpus_variant(ctx.seed))
        self.results = os.path.join(os.path.dirname(ctx.store_dir), "results")
        os.makedirs(self.results, exist_ok=True)
        ops = []
        for name in rotated(self.names, ctx.seed - 1):
            q = REGISTRY[name]
            t0 = time.perf_counter()
            err = None
            try:
                df = q.fn(ctx.spark, ctx.data_dir)
                res = {
                    "columns": df.columns,
                    "rows": [tuple(r) for r in df.collect()],
                    "oracle": q.oracle,
                    "digest": ctx.digests.get(variant, {}).get(name),
                }
                with open(os.path.join(self.results, f"{name}.pkl"), "wb") as f:
                    pickle.dump(res, f)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                err = f"{type(e).__name__}: {e}"
                self.wrong[name] = err
            ops.append(Op(name, "query", time.perf_counter() - t0, err))
        return ops

    def run_pass(self, ctx: Ctx, index: int) -> list[Op]:
        from crocus_spark.queries import REGISTRY

        tr = ctx.tracer
        ops = []
        for name in rotated(self.names, ctx.seed + index):
            self._op_id += 1
            t0 = time.perf_counter()
            err = None
            try:
                c0 = time.process_time()
                with tr.span("queries.build", self._op_id, op=name) as sp:
                    df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
                if sp is not None:
                    sp.attrs["driver_cpu_s"] = time.process_time() - c0
                with tr.span("operators.exec", self._op_id, op=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted as a failure
                err = f"{type(e).__name__}: {e}"
            ops.append(Op(name, "query", time.perf_counter() - t0, err))
        return ops

    def finish(self, ctx: Ctx, traced: bool) -> tuple[list[str], dict]:
        """Check the warm pass's results (see ``check.py``); a query that
        fails its check goes into :attr:`wrong`."""
        import crocus_spark

        root = os.path.dirname(os.path.dirname(os.path.abspath(crocus_spark.__file__)))
        env = dict(os.environ,
                   PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "check.py"), ctx.data_dir, self.results],
            capture_output=True, text=True, env=env, timeout=150)
        try:
            self.wrong.update(json.loads(p.stdout.splitlines()[-1]))
        except (IndexError, ValueError):  # no verdict: every query fails
            why = f"check.py exited with {p.returncode}: {p.stderr[-500:]}"
            self.wrong.update(dict.fromkeys(self.names, why))
        return [], {}


# ---------------------------------------------------------------------------
# holdings_ingest: daily provider snapshots into the manifest-log store,
# plus an IVF cell store kept in step through the CDC tail
# ---------------------------------------------------------------------------

PROVIDERS = ("ishares", "vanguard")
SECTORS = (
    "energy", "materials", "industrials", "utilities", "health", "financials",
    "consumer", "staples", "tech", "telecom", "real_estate",
)
DAY0 = dt.date(2025, 1, 2)


class HoldingsGen:
    """Seeded daily holdings and embeddings, and the live state they
    should leave in the store.

    Every fund reports ``per_fund`` holdings a day whose weights sum to
    exactly 10000 basis points. Each day one fund per provider is
    delisted (an equality delete on ``isin``) and one is launched.
    """

    def __init__(self, seed: int, funds: int, per_fund: int, vectors: int, dim: int = 64):
        self.rng = np.random.default_rng([seed, 4])
        self.per_fund, self.dim = per_fund, dim
        self._next_fund = 0
        self.funds = {p: [self._new_fund(p) for _ in range(funds)] for p in PROVIDERS}
        self.days: dict[str, list[int]] = {}  # isin -> days it reported
        self.provider: dict[str, str] = {}
        for p, isins in self.funds.items():
            for isin in isins:
                self.provider[isin] = p
        self.pool = [f"US{i:010d}" for i in range(max(200, 4 * per_fund))]
        self._next_vec = 0
        self.initial_vectors = self.vectors(vectors)
        self.probes = self._unit(20)

    def _new_fund(self, provider: str) -> str:
        self._next_fund += 1
        return f"{'IE' if provider == 'ishares' else 'LU'}{self._next_fund:010d}"

    def _unit(self, n: int) -> np.ndarray:
        v = self.rng.normal(size=(n, self.dim))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    def vectors(self, n: int):
        ids = np.arange(self._next_vec, self._next_vec + n)
        self._next_vec += n
        return ids, self._unit(n)

    def holdings(self, provider: str, day: int):
        """Rows one provider reports for ``day`` (a pandas frame)."""
        import pandas as pd

        cols = {k: [] for k in ("isin", "provider", "snapshot_date", "holding_isin",
                                "sector", "weight", "market_value")}
        date = DAY0 + dt.timedelta(days=day)
        for isin in self.funds[provider]:
            self.days.setdefault(isin, []).append(day)
            bp = self.rng.multinomial(10000 - self.per_fund,
                                      [1.0 / self.per_fund] * self.per_fund) + 1
            held = self.rng.choice(len(self.pool), self.per_fund, replace=False)
            aum = float(self.rng.uniform(1e8, 1e10))
            cols["isin"] += [isin] * self.per_fund
            cols["provider"] += [provider] * self.per_fund
            cols["snapshot_date"] += [date] * self.per_fund
            cols["holding_isin"] += [self.pool[h] for h in held]
            cols["sector"] += [SECTORS[h % len(SECTORS)] for h in held]
            cols["weight"] += (bp / 10000.0).tolist()
            cols["market_value"] += np.round(bp * aum / 10000.0, 2).tolist()
        return pd.DataFrame(cols)

    def delist(self) -> list[str]:
        """Replace one fund per provider; returns the delisted ISINs."""
        gone = []
        for p in PROVIDERS:
            i = int(self.rng.integers(0, len(self.funds[p])))
            gone.append(self.funds[p].pop(i))
            new = self._new_fund(p)
            self.provider[new] = p
            self.funds[p].append(new)
        for isin in gone:
            self.days.pop(isin, None)
        return gone

    def live(self, lo: int | None = None, hi: int | None = None):
        """(rows, {provider: (rows, basis points)}) of live funds, over
        days in [lo, hi] when given."""
        per = {p: [0, 0] for p in PROVIDERS}
        for isin, days in self.days.items():
            n = sum(1 for d in days if (lo is None or d >= lo) and (hi is None or d <= hi))
            per[self.provider[isin]][0] += n * self.per_fund
            per[self.provider[isin]][1] += n * 10000
        return sum(v[0] for v in per.values()), {p: tuple(v) for p, v in per.items()}


class HoldingsWorkload:
    FINISH_CHECKS = 1  # the IVF rebuild comparison
    # 20k holdings rows a day, the daily volume the workload was specified
    # with: two providers, 20 funds each, 500 holdings a fund
    FUNDS = 20  # per provider
    PER_FUND = 500  # holdings per fund per day
    # embeddings: the engine's fixture table at sf0.1, growing each day by
    # the share one embedding per fund position would add (the launched
    # funds' positions over day 0's, 1 / FUNDS). One embedding per
    # position (20k, then 1k a day) made a run take 85 s instead of 70 s
    # on a 4-core host, too long for the benchmark's run budget.
    VECTORS = datagen.table_sizes(0.1)["embeddings"]
    NEW_VECTORS = VECTORS // FUNDS
    N_CELLS = 8
    # compaction and expiry run every day, so every pass does the same
    # work and traced and untraced passes stay comparable
    TARGET_FILE_BYTES = 128 << 10  # about one day of holdings per file
    KEEP_VERSIONS = 6
    PRUNE_DAYS = 1  # the pruned read asks for the latest day only

    def __init__(self):
        self.day = 0
        self.expected: dict[int, int] = {}  # holdings version -> live rows
        self._op_id = 0
        self.bootstrap_s = 0.0
        self.bytes_generated = 0
        self.fresh: list[float] = []  # embeddings commit start -> sync end
        self.sync_cells: list[float] = []  # share of cells a traced sync rewrote
        self.pruned: list[float] = []  # share of files each pruned read skipped
        self.last_probe: list[tuple] = []  # sorted rows of the latest probe

    # -- set-up -------------------------------------------------------------

    def stage(self, ctx: Ctx) -> None:
        self.gen = HoldingsGen(ctx.seed, self.FUNDS, self.PER_FUND, self.VECTORS)
        self.table = os.path.join(ctx.store_dir, "holdings")
        self.emb = os.path.join(ctx.store_dir, "embeddings")
        self.index = os.path.join(ctx.store_dir, "ivf_index")

    def _holdings_df(self, ctx, pdf):
        self._count_generated(ctx, pdf)
        return ctx.spark.createDataFrame(pdf, schema=_HOLDINGS_SCHEMA)

    def _vectors_df(self, ctx, ids, vecs):
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(vecs)})
        self._count_generated(ctx, pdf)
        return ctx.spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")

    def _count_generated(self, ctx, pdf) -> None:
        """Add the rows' size as parquet to ``bytes_generated`` (traced
        passes only: it is the base of ``maintenance.write_amp``)."""
        if ctx.tracer.enabled:
            import io

            import pyarrow as pa
            import pyarrow.parquet as pq

            buf = io.BytesIO()
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
            self.bytes_generated += buf.tell()

    def warm(self, ctx: Ctx) -> list[Op]:
        """Initial snapshot, IVF bootstrap fit, then one untimed day."""
        from crocus_spark.operators.maintenance import commit_snapshot
        from crocus_spark.operators.similarity import ivf_model_load, ivf_sync_from_tail

        import pandas as pd

        day0 = pd.concat([self.gen.holdings(p, 0) for p in PROVIDERS], ignore_index=True)
        df0 = self._holdings_df(ctx, day0).coalesce(1)
        ops: list[Op] = []
        v = self._op(ctx, ops, "commit_snapshot.holdings", "commit", "maintenance.commit_snapshot",
                     lambda: commit_snapshot(df0, self.table, stats_columns=["snapshot_date"]))
        self.expected[v] = self.gen.live()[0]
        ids, vecs = self.gen.initial_vectors
        commit_snapshot(self._vectors_df(ctx, ids, vecs).coalesce(2), self.emb)
        t0 = time.perf_counter()
        with ctx.tracer.span("similarity.bootstrap", 0):
            ivf_sync_from_tail(ctx.spark, self.emb, self.index, n_cells=self.N_CELLS)
        self.bootstrap_s = time.perf_counter() - t0
        ops.append(Op("ivf_bootstrap", "index", self.bootstrap_s))
        self.model = ivf_model_load(self.index)
        pids = np.arange(len(self.gen.probes)) + 10**9
        self.probes = self._vectors_df(ctx, pids, self.gen.probes).cache()
        self.probes.count()
        ops += self.run_pass(ctx, -1)
        # per-day figures count timed days only
        self.fresh, self.sync_cells, self.pruned = [], [], []
        return ops

    # -- one day --------------------------------------------------------------

    def _op(self, ctx, ops, name, kind, span, fn, check=None):
        self._op_id += 1
        t0 = time.perf_counter()
        err = None
        try:
            with ctx.tracer.span(span, self._op_id, op=name) as sp:
                out = fn()
            if check is not None:
                err = check(out, sp)
        except Exception as e:  # noqa: BLE001 - counted as a failure
            err = f"{type(e).__name__}: {e}"
            out = None
        ops.append(Op(name, kind, time.perf_counter() - t0, err))
        return out

    def run_pass(self, ctx: Ctx, index: int) -> list[Op]:
        from pyspark.sql import functions as F

        from crocus_spark.operators import maintenance as M
        from crocus_spark.operators import similarity as S

        spark, gen = ctx.spark, self.gen
        self.day += 1
        day = self.day
        ops: list[Op] = []

        def committed(v, _sp):
            self.expected[v] = gen.live()[0]
            return None

        for p in PROVIDERS:
            df = self._holdings_df(ctx, gen.holdings(p, day))
            self._op(ctx, ops, f"commit_append.{p}", "commit", "maintenance.commit_append",
                     lambda df=df: M.commit_append(df.coalesce(1), self.table), committed)
        gone = gen.delist()
        dels = spark.createDataFrame([(i,) for i in gone], "isin string")
        self._op(ctx, ops, "commit_equality_deletes", "commit", "maintenance.commit_eq_delete",
                 lambda: M.commit_equality_deletes(dels, self.table, ["isin"]), committed)

        def latest():
            return (
                M.read_snapshot(spark, self.table)
                .groupBy("provider")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("weight") * 10000).cast("long")).alias("bp"))
                .collect()
            )

        def check_latest(rows, _sp):
            got = {r["provider"]: (r["n"], r["bp"]) for r in rows}
            want = gen.live()[1]
            return None if got == want else f"latest state {got} != {want}"

        self._op(ctx, ops, "read_latest", "read", "maintenance.read_snapshot", latest,
                 check_latest)

        lo = max(0, day - self.PRUNE_DAYS + 1)
        lo_d, hi_d = DAY0 + dt.timedelta(days=lo), DAY0 + dt.timedelta(days=day)

        def pruned():
            df, info = M.read_snapshot_pruned(spark, self.table, "snapshot_date", lo_d, hi_d)
            n = df.filter(F.col("snapshot_date").between(lo_d, hi_d)).count()
            return n, info

        def check_pruned(out, _sp):
            n, info = out
            self.pruned.append(1.0 - info["files_selected"] / max(1, info["files_total"]))
            want = gen.live(lo, day)[0]
            return None if n == want else f"pruned read {n} rows != {want}"

        self._op(ctx, ops, "read_pruned", "read", "maintenance.read_pruned", pruned, check_pruned)

        def travel():
            v = M.list_snapshot_versions(self.table)[0]
            return v, M.read_snapshot(spark, self.table, version=v).count()

        def check_travel(out, _sp):
            v, n = out
            want = self.expected.get(v)
            return None if n == want else f"version {v} has {n} rows != {want}"

        self._op(ctx, ops, "read_time_travel", "read", "maintenance.time_travel", travel,
                 check_travel)

        ids, vecs = gen.vectors(self.NEW_VECTORS)
        vdf = self._vectors_df(ctx, ids, vecs)
        t_fresh = time.perf_counter()
        self._op(ctx, ops, "commit_append.embeddings", "index", "maintenance.commit_append",
                 lambda: M.commit_append(vdf.coalesce(1), self.emb))
        before = _cell_files(self.index) if ctx.tracer.enabled else None
        self._op(ctx, ops, "ivf_sync_from_tail", "index", "similarity.ivf_sync",
                 lambda: S.ivf_sync_from_tail(spark, self.emb, self.index,
                                              n_cells=self.N_CELLS))
        self.fresh.append(time.perf_counter() - t_fresh)
        if before is not None:
            after = _cell_files(self.index)
            changed = {c for c in set(before) | set(after) if before.get(c) != after.get(c)}
            self.sync_cells.append(len(changed) / max(1, len(after)))

        def probe():
            return self._serve(ctx, self.index).collect()

        def check_probe(rows, _sp):
            self.last_probe = sorted(tuple(r) for r in rows)
            want = len(gen.probes) * 5
            return None if len(rows) == want else f"probe gave {len(rows)} rows != {want}"

        self._op(ctx, ops, "ivf_topk_at_rest", "probe", "similarity.ivf_probe", probe,
                 check_probe)

        def compacted(out, _sp):
            v, _stats = out
            self.expected[v] = gen.live()[0]
            return None

        self._op(ctx, ops, "compact_snapshot", "maintain", "maintenance.compact",
                 lambda: M.compact_snapshot(spark, self.table, self.TARGET_FILE_BYTES,
                                            sort_col="snapshot_date"), compacted)
        self._op(ctx, ops, "expire_snapshots", "maintain", "maintenance.expire",
                 lambda: M.expire_snapshots(self.table, keep_last=self.KEEP_VERSIONS))
        return ops

    def _serve(self, ctx, path):
        from crocus_spark.operators.similarity import ivf_topk_at_rest

        return ivf_topk_at_rest(
            ctx.spark, self.probes, None, path, k=5, n_cells=self.N_CELLS, nprobe=4,
            model=self.model, reuse_store=True,
        ).select("query_id", "neighbor_id", "cos", "rank")

    # -- end of run -------------------------------------------------------------

    def finish(self, ctx: Ctx, traced: bool) -> tuple[list[str], dict]:
        """Check the maintained IVF store against a same-model rebuild;
        with tracing, also measure the store's space use."""
        from crocus_spark.operators.maintenance import (
            list_snapshot_versions,
            manifest_data_files,
            read_manifest,
            read_snapshot,
        )
        from crocus_spark.operators.similarity import ivf_build_store

        errors = []
        rebuilt = os.path.join(os.path.dirname(ctx.store_dir), "ivf_rebuild")
        ivf_build_store(read_snapshot(ctx.spark, self.emb).select("vec_id", "embedding"),
                        rebuilt, self.model)
        # the maintained store is as the last day's probe left it
        ref = sorted(tuple(r) for r in self._serve(ctx, rebuilt).collect())
        if self.last_probe != ref:
            errors.append("maintained IVF store diverged from a same-model rebuild")
        extra = {}
        if traced:
            latest = list_snapshot_versions(self.table)[-1]
            files_live = len(manifest_data_files(self.table, read_manifest(self.table, latest)))
            compacted = os.path.join(os.path.dirname(ctx.store_dir), "compacted")
            read_snapshot(ctx.spark, self.table).coalesce(1).write.parquet(
                os.path.join(compacted, "h"))
            read_snapshot(ctx.spark, self.emb).coalesce(1).write.parquet(
                os.path.join(compacted, "e"))
            extra = {
                "files_live": files_live,
                "space_amp": _tree_bytes(ctx.store_dir) / _tree_bytes(compacted),
            }
        return errors, extra


_HOLDINGS_SCHEMA = (
    "isin string, provider string, snapshot_date date, holding_isin string, "
    "sector string, weight double, market_value double"
)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _cell_files(index: str) -> dict[str, tuple]:
    """cell directory -> its sorted data files with sizes."""
    out = {}
    if not os.path.isdir(index):
        return out
    for d in sorted(os.listdir(index)):
        if d.startswith("cell="):
            full = os.path.join(index, d)
            out[d] = tuple(sorted(
                (f, os.path.getsize(os.path.join(full, f))) for f in os.listdir(full)
            ))
    return out


def make(name: str):
    if name == "confront_sql":
        return QueryWorkload(CONFRONT_SQL)
    if name == "llm_curation":
        return QueryWorkload(LLM_CURATION)
    if name == "holdings_ingest":
        return HoldingsWorkload()
    raise KeyError(name)


WORKLOADS = ("confront_sql", "llm_curation", "holdings_ingest")
