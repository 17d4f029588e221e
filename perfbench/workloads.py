"""The three workloads.

Every workload runs as a closed loop with one client: each operation
starts when the previous one has finished.  ``warm`` runs before the
timed region (its cost is part of ``setup_s``) and ``measure`` is the
timed region.  Outputs are verified outside the timed region: the query
workloads check each query's result during the warm-up pass, the tick
workload checks every measured cycle's destinations after it; ``check``
returns what failed.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .check import Oracle, digest, mismatch
from .trace import Tracer


@dataclass
class Op:
    kind: str  # query name, or table tick
    seconds: float
    ok: bool = True
    # source rows the operation consumed; None when it consumes none that
    # count (the full-replication custom query), so rows_per_s leaves it out
    rows: int | None = 0


@dataclass
class Ctx:
    spark: object
    specs: dict
    data: Path
    work: Path
    tracer: Tracer
    oracle: Oracle
    seed: int
    oracle_sql: dict
    corrupt: bool = False
    ops: list[Op] = field(default_factory=list)
    readbacks: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)

    def spark_digest(self, df) -> dict:
        tbl = df.toArrow()
        if self.corrupt and tbl.num_rows:  # self-test: lose one row
            self.corrupt = False
            tbl = tbl.slice(1)
        return digest(tbl)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# Query workloads: each operation is rebuild + execute to the noop sink.


class QueryMix:
    name = ""
    queries: dict[str, tuple[str, ...]] = {}  # query -> tables it reads
    rows_only: tuple[str, ...] = ()
    nominal_pass_s = 1.0  # seconds per pass on a 4-core host; sizes the run

    @property
    def tables(self) -> set[str]:
        return {t for ts in self.queries.values() for t in ts}

    def prime(self, ctx: Ctx) -> None:
        """Compute missing oracle digests before anything is timed."""
        osql = ctx.oracle_sql
        for q in self.queries:
            if q not in self.rows_only:
                ctx.oracle.expected(osql[q])

    def _order(self, rng: np.random.Generator) -> list[str]:
        return [str(q) for q in rng.permutation(sorted(self.queries))]

    def _one(self, ctx: Ctx, q: str, op_id: int, rows: dict[str, int]) -> Op:
        tr = ctx.tracer
        ok = True
        t0 = time.perf_counter()
        try:
            with tr.span("op", op_id):
                tr.group(f"op{op_id}-build")
                with tr.span("operators.build"):
                    df = ctx.specs[q].builder(ctx.spark, str(ctx.data))
                with tr.span("catalyst.plan"):
                    tr.record_catalyst(df)
                tr.group(f"op{op_id}-exec")
                with tr.span("exec.run"):
                    _noop(df)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            ctx.failures.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
        dt = time.perf_counter() - t0
        build_jobs = tr.jobs_in(f"op{op_id}-build")
        tr.add("operators.build_jobs", len(build_jobs))
        tr.record_jobs(build_jobs + tr.jobs_in(f"op{op_id}-exec"))
        tr.record_pyworkers()
        return Op(q, dt, ok, sum(rows[t] for t in self.queries[q]))

    def warm(self, ctx: Ctx, rows: dict[str, int]) -> None:
        """One untimed pass that also checks every query's output (the
        queries are deterministic, so the measured passes produce the
        same results)."""
        rng = np.random.default_rng(ctx.seed + 1_000_003)
        self.bad = set()
        for q in self._order(rng):
            try:
                df = ctx.specs[q].builder(ctx.spark, str(ctx.data))
                if q in self.rows_only:
                    # the rows-only contract: a unique schema and rows
                    n = df.count()
                    if ctx.corrupt:
                        ctx.corrupt, n = False, 0
                    unique = len(set(df.columns)) == len(df.columns)
                    why = None if n > 0 and unique else f"rows-only: {n} rows"
                else:
                    why = mismatch(
                        ctx.spark_digest(df), ctx.oracle.expected(ctx.oracle_sql[q])
                    )
            except Exception as exc:  # noqa: BLE001
                why = f"{type(exc).__name__}: {exc}"[:300]
            if why:
                self.bad.add(q)
                ctx.failures.append(f"check {q}: {why}")

    def measure(self, ctx: Ctx, seconds: float, rows: dict[str, int]) -> None:
        rng = np.random.default_rng(ctx.seed)
        passes = max(1, round(seconds / self.nominal_pass_s))
        op_id = 0
        for _ in range(passes):
            for q in self._order(rng):
                ctx.ops.append(self._one(ctx, q, op_id, rows))
                op_id += 1

    def check(self, ctx: Ctx) -> set[str]:
        """Query names whose output was wrong in the warm-up pass."""
        return self.bad


class SqlMix(QueryMix):
    name = "sql_mix"
    queries = {
        "q1_pricing_summary": ("lineitem",),
        "q3_shipping_priority": ("customer", "orders", "lineitem"),
        "q10_returned_items": ("customer", "orders", "lineitem", "nation"),
        "j1_inner_equi": ("lineitem", "orders"),
        "j11_multiway_star": ("lineitem", "orders", "customer", "nation", "region"),
        "a2_group_agg": ("orders",),
        "s1_full_scan": ("lineitem",),
        "o3_topk": ("orders",),
        "t2_tumbling_window": ("events",),
        "l3_topk_cosine": ("embeddings",),
        "l5_wordcount": ("documents",),
    }
    nominal_pass_s = 5.0


class LlmDedup(QueryMix):
    name = "llm_dedup"
    # Two passes of four queries fit the benchmark's time limit where two
    # of six do not.  l18 runs the l2 Jaccard join (pinned) and the
    # connected-components rounds; l4c and l14 the mapInArrow kernels.
    # l2 alone and l20 (k-means IVF) are left out: their layers are
    # covered, and with them one pass is all that fits, whose median
    # falls between two unlike queries and jumps from run to run.
    queries = {
        "l2b_minhash_lsh": ("documents",),
        "l4c_packed_topk": ("embeddings",),
        "l14_ivf_topk": ("embeddings",),
        "l18_dedup_clusters": ("documents",),
    }
    rows_only = ("l2b_minhash_lsh",)
    nominal_pass_s = 9.0


# --------------------------------------------------------------------------
# Extract ticks: the reference's incremental extract -> load -> commit loop.

# Full-replication custom query, written in the ClickHouse dialect.
REPORT_CH_SQL = (
    "SELECT o_orderpriority, toYear(o_orderdate) AS yr, count(*) AS n_orders, "
    "uniqExact(o_custkey) AS n_customers, max(o_orderkey) AS max_key "
    "FROM orders {query_filter} GROUP BY o_orderpriority, yr"
)
REPORT_ORACLE_SQL = (
    "SELECT o_orderpriority, year(o_orderdate) AS yr, count(*) AS n_orders, "
    "count(DISTINCT o_custkey) AS n_customers, max(o_orderkey) AS max_key "
    "FROM orders GROUP BY o_orderpriority, yr"
)


class ExtractTicks:
    name = "extract_ticks"
    # seconds per tick (three table ticks and a read-back) on a 4-core
    # host; sizes the run.  One measured cycle lands the whole source.
    nominal_tick_s = 2.0
    tables = {"events", "orders"}

    def prime(self, ctx: Ctx) -> None:
        ctx.oracle.expected(REPORT_ORACLE_SQL)
        self._src = {t: pq.read_table(ctx.data / f"{t}.parquet") for t in ("events", "orders")}
        self._src_digest = {t: digest(tbl) for t, tbl in self._src.items()}

    def _configs(self):
        from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

        events = TableConfig(
            name="events", replication_method="incremental",
            iterate_column="event_id", iterate_column_type="int",
            dedup_keys=("event_id",),
        )
        orders = TableConfig(
            name="orders", replication_method="incremental",
            iterate_column="o_orderdate", iterate_column_type="datetime",
            dedup_keys=("o_orderkey",),
        )
        report = TableConfig(
            name="orders", target_name="orders_by_year",
            replication_method="full", custom_query=REPORT_CH_SQL,
            custom_query_dialect="clickhouse",
        )
        return events, orders, report

    def _boundaries(self, rng: np.random.Generator, k: int):
        """Seeded arrival chunks: for each of ``k`` ticks, the last
        event_id and the last order date the source exposes."""
        w = rng.uniform(0.5, 1.5, k)
        frac = np.cumsum(w) / w.sum()
        ev_ids = self._src["events"].column("event_id").to_numpy()
        ev = [int(ev_ids[min(len(ev_ids) - 1, int(f * len(ev_ids)) - 1)]) for f in frac]
        ev[-1] = int(ev_ids.max())
        dates = np.sort(
            self._src["orders"].column("o_orderdate").cast(pa.int64()).to_numpy()
        )
        od = [int(dates[min(len(dates) - 1, int(f * len(dates)) - 1)]) for f in frac]
        od[-1] = int(dates.max())
        return ev, od

    def _cycle(self, ctx: Ctx, cycle: int, rng, op_base: int, timed: bool,
               k: int, ticks: int | None = None) -> None:
        import datetime as dt

        from pyspark.sql import functions as F

        from mkpipe_extractor_clickhouse_spark.sources.extract import (
            IncrementalRunner, ParquetExtractor, ParquetLoader,
        )
        from mkpipe_extractor_clickhouse_spark.sources.manifest import (
            ManifestIncrementalRunner, ManifestLoader,
        )
        from mkpipe_extractor_clickhouse_spark.sources.state import WatermarkStore

        tr = ctx.tracer if timed else Tracer(False)
        root = ctx.work / f"cycle{cycle}"
        shutil.rmtree(root, ignore_errors=True)
        events, orders, report = self._configs()
        extractor, loader, store, lake = traced_parts(
            tr,
            ParquetExtractor(str(ctx.data)),
            ParquetLoader(str(root / "dest")),
            WatermarkStore(str(root / "state.json")),
            ManifestLoader(str(root / "lake"), auto_compact_max_dirs=3),
        )
        ev_runner = IncrementalRunner(extractor, loader, store)
        od_runner = ManifestIncrementalRunner(extractor, lake)
        ev_b, od_b = self._boundaries(rng, k)
        ev_col = self._src["events"].column("event_id").to_numpy()
        od_col = self._src["orders"].column("o_orderdate").cast(pa.int64()).to_numpy()
        epoch = dt.datetime(1970, 1, 1)
        prev_ev, prev_od = None, None
        op_id = op_base
        for t in range(ticks or k):
            od_ts = epoch + dt.timedelta(microseconds=od_b[t])
            steps = (
                ("events", ev_runner, events, F.col("event_id") <= ev_b[t],
                 ev_col, ev_b[t], prev_ev),
                ("orders", od_runner, orders, F.col("o_orderdate") <= F.lit(od_ts),
                 od_col, od_b[t], prev_od),
                ("orders_by_year", ev_runner, report, F.col("o_orderdate") <= F.lit(od_ts),
                 None, None, None),
            )
            for kind, runner, cfg, source_filter, col, hi, lo in steps:
                ok = True
                t0 = time.perf_counter()
                try:
                    with tr.span("op", op_id):
                        tr.group(f"op{op_id}")
                        runner.run_once(ctx.spark, cfg, source_filter=source_filter)
                except Exception as exc:  # noqa: BLE001
                    ok = False
                    ctx.failures.append(f"{kind} tick: {type(exc).__name__}: {exc}"[:300])
                dt_s = time.perf_counter() - t0
                tr.record_jobs(tr.jobs_in(f"op{op_id}"))
                tr.record_pyworkers()
                n_landed = None
                if col is not None:
                    # landed: (previous watermark, hi]; extracted: the
                    # reference's ``>=`` window [previous watermark, hi]
                    upto = col <= hi
                    n_landed = int((upto & (col > lo)).sum()) if lo is not None else int(upto.sum())
                    n_extracted = int((upto & (col >= lo)).sum()) if lo is not None else n_landed
                    tr.add("extract.rows_extracted", n_extracted)
                    tr.add("extract.rows_reread", n_extracted - n_landed)
                if timed:
                    ctx.ops.append(Op(kind, dt_s, ok, n_landed))
                op_id += 1
            prev_ev, prev_od = ev_b[t], od_b[t]
            t0 = time.perf_counter()
            tr.group("readback")
            with tr.span("readback"):
                (
                    loader.read(ctx.spark, events)
                    .groupBy("event_type")
                    .agg(F.count("*").alias("n"), F.max("event_id").alias("hi"))
                    .collect()
                )
            if timed:
                ctx.readbacks.append(time.perf_counter() - t0)
        if timed:
            tr.add("extract.source_mb", sum(
                (ctx.data / f"{t}.parquet").stat().st_size for t in ("events", "orders")
            ) / 2**20)
            files = [p for p in root.rglob("*.parquet") if p.is_file()]
            tr.add("extract.files_written", len(files))
            tr.add("extract.dest_mb", sum(p.stat().st_size for p in files) / 2**20)
        self._last = (root, store, lake, loader, events, orders, report)

    def warm(self, ctx: Ctx, rows: dict[str, int]) -> None:
        # two ticks: the initial load and one append warm every code path
        # but compaction, which needs more batches than that
        self._cycle(ctx, -1, np.random.default_rng(ctx.seed + 1_000_003), -1000, False,
                    k=8, ticks=2)

    def measure(self, ctx: Ctx, seconds: float, rows: dict[str, int]) -> None:
        rng = np.random.default_rng(ctx.seed)
        ticks = max(3, round(seconds / self.nominal_tick_s))
        self._cycle(ctx, 0, rng, 0, True, k=ticks)
        self._cycles = [(self._last, 0, len(ctx.ops))]

    def check(self, ctx: Ctx) -> set[str]:
        """Every cycle must land the full source exactly once, with the
        watermarks at the source maxima; returns the failed cycles."""
        bad = set()
        for c, (last, n0, n1) in enumerate(self._cycles):
            root, store, lake, loader, events, orders, report = last
            why = []
            try:
                got = ctx.spark_digest(loader.read(ctx.spark, events))
                if m := mismatch(got, self._src_digest["events"]):
                    why.append(f"events dest: {m}")
                want_ev = str(int(self._src["events"].column("event_id").to_numpy().max()))
                if store.get("events") != want_ev:
                    why.append(f"events watermark {store.get('events')} != {want_ev}")
                got = ctx.spark_digest(lake.table(orders).read(ctx.spark))
                if m := mismatch(got, self._src_digest["orders"]):
                    why.append(f"orders lake: {m}")
                want_od = str(max(self._src["orders"].column("o_orderdate").to_pylist()))
                if lake.last_point(orders) != want_od:
                    why.append(f"orders watermark {lake.last_point(orders)} != {want_od}")
                got = ctx.spark_digest(loader.read(ctx.spark, report))
                if m := mismatch(got, ctx.oracle.expected(REPORT_ORACLE_SQL)):
                    why.append(f"custom query dest: {m}")
            except Exception as exc:  # noqa: BLE001
                why.append(f"{type(exc).__name__}: {exc}"[:300])
            if why:
                bad.add(f"cycle{c}")
                ctx.failures.extend(f"check cycle{c}: {w}" for w in why)
                for op in ctx.ops[n0:n1]:
                    op.ok = False
            shutil.rmtree(root, ignore_errors=True)
        return bad


class _Timed:
    """Proxy that wraps the named methods of a layer object in spans."""

    def __init__(self, inner, tracer: Tracer, spans: dict[str, str]):
        self._inner, self._tr, self._spans = inner, tracer, spans

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        span = self._spans.get(name)
        if span is None:
            return attr

        def timed(*args, **kwargs):
            with self._tr.span(span):
                return attr(*args, **kwargs)

        return timed


def traced_parts(tr: Tracer, extractor, loader, store, lake):
    """With tracing on, wrap the extract/load/commit/compact calls (and
    the ClickHouse-dialect translation the extractor makes) in spans."""
    if not tr.enabled:
        return extractor, loader, store, lake
    from mkpipe_extractor_clickhouse_spark.sources import ch_dialect

    if not hasattr(ch_dialect.translate, "__wrapped__"):
        plain = ch_dialect.translate

        def translate(*args, **kwargs):
            t0 = time.perf_counter()
            with tr.span("ch_dialect.translate"):
                out = plain(*args, **kwargs)
            tr.add("ch_dialect.translate_ms", (time.perf_counter() - t0) * 1e3)
            return out

        translate.__wrapped__ = plain
        ch_dialect.translate = translate

    class TracedLake(type(lake)):
        def table(self, table):
            return _Timed(
                super().table(table), tr,
                {"_publish": "extract.commit", "compact": "extract.compact",
                 "stage_batch": "extract.stage"},
            )

    lake = TracedLake(lake.dest_dir, auto_compact_max_dirs=lake.auto_compact_max_dirs)
    return (
        _Timed(extractor, tr, {"extract": "extract.extract"}),
        _Timed(loader, tr, {"load": "extract.load"}),
        _Timed(store, tr, {"set": "extract.commit"}),
        _Timed(lake, tr, {"load": "extract.load"}),
    )


WORKLOADS = {w.name: w for w in (SqlMix, ExtractTicks, LlmDedup)}
