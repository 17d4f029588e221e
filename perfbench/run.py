"""Repository benchmark: one workload per run, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 12 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

* ``sql_mix``       the 11 headline registry queries, rebuilt and executed;
* ``extract_ticks`` incremental extract -> load -> commit ticks plus a
                    ClickHouse-dialect full-replication custom query;
* ``llm_dedup``     the dedup and similarity-search operators.

The run builds its input tables from a fixed data seed under
``.perfbench/`` (first run only), starts a Spark session with the
package defaults on ``local[N]`` (N = min(4, cores)), warms up, measures
a closed loop with one client, then checks every output against the
DuckDB oracle or the source tables.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs with spans and Spark's status
API on and reports the per-layer metrics instead.  The last stdout line
is the result JSON; a provenance line and a human-readable report come
before it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

if __package__ in (None, ""):  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    __package__ = "perfbench"

from perfbench import datagen  # noqa: E402
from perfbench.check import Oracle  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

PACKAGE = "mkpipe_extractor_clickhouse_spark"
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "catalog.warm_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.run_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.shuffle_mb": "MB",
    "exec.fetch_wait_ms": "ms", "exec.spill_mb": "MB", "exec.result_mb": "MB",
    "exec.failed_tasks": "count",
    "pyworker.boot_ms": "ms", "pyworker.init_ms": "ms", "pyworker.run_ms": "ms",
    "pyworker.sent_mb": "MB", "pyworker.returned_mb": "MB",
    "sched.floor_s": "s",
    "extract.extract_s": "s", "extract.load_s": "s", "extract.commit_s": "s",
    "extract.compact_s": "s", "extract.files_written": "count",
    "extract.write_amp": "ratio", "extract.boundary_reread_share": "ratio",
    "ch_dialect.translate_ms": "ms",
}
# Per-operation means: counters divided by the number of measured ops.
_PER_OP = (
    "operators.build_jobs", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.jobs", "exec.tasks", "exec.cpu_ms",
    "exec.gc_ms", "exec.shuffle_mb", "exec.fetch_wait_ms", "exec.spill_mb",
    "exec.result_mb", "exec.failed_tasks", "pyworker.boot_ms",
    "pyworker.init_ms", "pyworker.run_ms", "pyworker.sent_mb",
    "pyworker.returned_mb", "ch_dialect.translate_ms", "extract.files_written",
)
_SPAN_PER_OP = {
    "operators.build_s": "operators.build", "exec.run_s": "exec.run",
    "extract.extract_s": "extract.extract", "extract.load_s": "extract.load",
    "extract.commit_s": "extract.commit", "extract.compact_s": "extract.compact",
}
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(datagen.SCALES), default="bench")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: drop one result row before the first check")
    return p.parse_args(argv)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, every: float = 0.25):
        self.every = every
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_kb() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
            tree.update(kids)
            frontier = kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_kb())
            self._stop.wait(self.every)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self.tree_kb())


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n).  Fewer than 11 samples give the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


def provenance(root: Path, cores: int, spark, args) -> dict:
    def git(*cmd):
        try:
            return subprocess.run(
                ["git", *cmd], cwd=root, capture_output=True, text=True, timeout=10
            ).stdout.strip()
        except OSError:
            return ""

    import duckdb
    import pyspark

    sha = git("rev-parse", "HEAD") or None
    # identifies the measured code where git does not (a plain checkout)
    code = hashlib.sha256()
    for f in sorted([*(root / PACKAGE).rglob("*.py"), *(root / "perfbench").glob("*.py")]):
        code.update(f.relative_to(root).as_posix().encode())
        code.update(f.read_bytes())
    return {
        "nproc": os.cpu_count(),
        "host_mem_gib": round(
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1
        ),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None)
        or spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "local_cores": cores,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "git_dirty": bool(git("status", "--porcelain")) if sha else None,
        "code_sha256": code.hexdigest(),
        "seed": args.seed,
        "scale": args.scale,
        "workload": args.workload,
        "trace": args.trace,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    cache = root / ".perfbench"
    work = cache / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Keep Spark's scratch space, Python temp files and the package's
    # packed-vector cache inside the checkout, and fresh for every run.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    tempfile.tempdir = None
    try:
        return _run(args, root, cache, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: Path, cache: Path, work: Path) -> int:
    from perfbench.workloads import WORKLOADS, Ctx

    data = datagen.ensure(cache, args.scale)
    rows = datagen.row_counts(data)
    oracle = Oracle(data)
    workload = WORKLOADS[args.workload]()
    tracer = Tracer(bool(args.trace))
    cores = max(1, min(4, os.cpu_count() or 1))

    from pyspark.sql import SparkSession  # noqa: F401 - import cost is not setup

    # peak RSS over the whole run: set-up, measurement and checks
    rss = RssSampler().start()
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        from mkpipe_extractor_clickhouse_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            extra_conf=TRACE_CONF if args.trace else None,
        )
    t_session = time.perf_counter()
    try:
        with tracer.span("registry.load"):
            from mkpipe_extractor_clickhouse_spark import registry

            specs = registry.all_specs()
            osql = registry.oracle_sql()
        t_registry = time.perf_counter()
        ctx = Ctx(spark, specs, data, work, tracer, oracle, args.seed, osql)
        # Oracle digests are computed once per checkout, for every
        # workload, by whichever run comes first, and cached; keep that
        # work out of the setup time.
        t_prime = time.perf_counter()
        for other in WORKLOADS.values():
            (workload if isinstance(workload, other) else other()).prime(ctx)
        oracle.close()
        prime_s = time.perf_counter() - t_prime
        with tracer.span("catalog.warm"):
            from mkpipe_extractor_clickhouse_spark.catalog import load_table

            for t in sorted(workload.tables):
                load_table(spark, str(data), t).count()
        t_catalog = time.perf_counter()
        tracer.enabled = False  # warm-up is setup, not per-layer data
        ctx.corrupt = args.corrupt
        workload.warm(ctx, rows)
        tracer.enabled = bool(args.trace)
        setup_s = time.perf_counter() - t_setup - prime_s
        tracer.attach(spark)

        t0 = time.perf_counter()
        workload.measure(ctx, args.seconds, rows)
        wall = time.perf_counter() - t0
        floor = sched_floor(spark) if args.trace else None
        bad = workload.check(ctx)
        prov = provenance(root, cores, spark, args)
    finally:
        rss.stop()
        stop_spark(spark)

    ops = ctx.ops
    if not ops:
        print("perfbench: no operation ran", file=sys.stderr)
        return 1
    if bad:
        for op in ops:
            if op.kind in bad:
                op.ok = False
    failed = sum(not op.ok for op in ops)
    ok_times = [op.seconds for op in ops if op.ok] or [op.seconds for op in ops]
    tail_v, tail_pct, n = tail(ok_times)
    row_ops = [op for op in ops if op.ok and op.rows is not None]
    row_s = sum(op.seconds for op in row_ops)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(ok_times),
        "op_tail_s": tail_v,
        "ops_per_s": len(ops) / wall,
        "rows_per_s": sum(op.rows for op in row_ops) / row_s if row_s else 0.0,
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    extra = {
        "fail_share": failed / len(ops),
        "op_tail_percentile": tail_pct,
        "op_count": n,
        "measured_s": wall,
    }
    kinds = sorted({op.kind for op in ops})
    extra["kind_p50_s"] = {
        k: round(statistics.median(op.seconds for op in ops if op.kind == k), 4)
        for k in kinds
    }
    if ctx.readbacks:
        extra["readback_p50_s"] = statistics.median(ctx.readbacks)

    baseline = cache / (
        f"untraced-{args.workload}-{args.scale}-{args.seed}-{prov['code_sha256'][:16]}.json"
    )
    print("provenance " + json.dumps(prov, sort_keys=True))
    for line in ctx.failures[:20]:
        print("failure: " + line)
    if args.trace:
        layer = per_layer(tracer, ops, floor, t_session - t_setup,
                          t_registry - t_session, t_catalog - t_registry - prime_s)
        report_trace(tracer, baseline, e2e, extra)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(cache / f"spans-{args.workload}-{args.seed}.json")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        baseline.write_text(json.dumps({**e2e, **extra}))
    report = {k: round(v, 6) if isinstance(v, float) else v
              for k, v in {**e2e, **extra}.items()}
    print("report " + json.dumps({"workload": args.workload, **report}))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def sched_floor(spark) -> float:
    """Median wall time of one empty noop job: the scheduler's fixed cost."""
    df = spark.range(1)
    df.write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def per_layer(tracer: Tracer, ops, floor, session_s, registry_s, catalog_s) -> dict:
    n = len(ops)
    c = tracer.counts
    span_total: dict[str, float] = {}
    for s in tracer.spans:
        span_total[s["name"]] = span_total.get(s["name"], 0.0) + s["end"] - s["start"]
    out = {
        "session.start_s": session_s,
        "registry.load_s": registry_s,
        "catalog.warm_s": catalog_s,
        "sched.floor_s": floor,
    }
    for k in _PER_OP:
        out[k] = c.get(k, 0.0) / n
    for k, span in _SPAN_PER_OP.items():
        out[k] = span_total.get(span, 0.0) / n
    src = c.get("extract.source_mb", 0.0)
    out["extract.write_amp"] = c.get("extract.dest_mb", 0.0) / src if src else 0.0
    ext = c.get("extract.rows_extracted", 0.0)
    out["extract.boundary_reread_share"] = c.get("extract.rows_reread", 0.0) / ext if ext else 0.0
    return out


def report_trace(tracer: Tracer, baseline: Path, e2e: dict, extra: dict) -> None:
    """Print self time per layer and the tracing overhead: traced
    op_p50_s minus the op_p50_s of the untraced run of the same
    workload, scale, seed and code."""
    selfs = tracer.self_times()
    print("self_time_s " + json.dumps({k: round(v, 4) for k, v in sorted(selfs.items())}))
    extra["trace_overhead_s"] = None
    if not baseline.exists():
        print("trace_overhead: no untraced baseline for this workload, scale, "
              "seed and code; run once with --trace 0 first")
        return
    base = json.loads(baseline.read_text())["op_p50_s"]
    extra["trace_overhead_s"] = e2e["op_p50_s"] - base
    extra["untraced_op_p50_s"] = base


if __name__ == "__main__":
    sys.exit(main())
