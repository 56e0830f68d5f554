"""The three workloads of the repository benchmark.

    python3 perfbench/workloads.py --workload tpch --seed 1 --seconds 20 --trace 0

``perfbench/run.py`` runs this module as the leader of a new session and
reaps everything it leaves; run it through ``run.py``.  The last line of
standard output is the result object; the lines before it name every
metric with its unit and sample count.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "tools"))

import corpus  # noqa: E402
import pgwire_mix  # noqa: E402
import tpch_queries  # noqa: E402
from tpch_sf1_bench import _rows_match as rows_match  # noqa: E402
from tracing import (  # noqa: E402
    NullTracer,
    Tracer,
    job_readings,
    plan_metrics,
    plan_phases_ms,
    proc_io_written,
)

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Input sizes per profile.  "full" is the benchmark; "tiny" is the smoke
# test's configuration.
PROFILES = {
    "full": {"sf": 0.01, "docs": 2400, "vecs": 1200, "events": 60_000},
    "tiny": {"sf": 0.002, "docs": 300, "vecs": 300, "events": 5_000},
}
PIPELINE_ENTRIES = (
    "dedup_minhash_lsh",  # memoized signature asset, Arrow (pandas) UDF
    "ml_knn_eval_ivf",  # memoized IVF centroid/assignment assets
    "events_sessionization",  # window sort, large result transfer
)
PG_CLIENTS = 4

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "geomean_s": "s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "ops_per_s": "1/s",
}
# Reported by the traced run: a cold pass and a peak RSS are one sample
# per run each, and did not repeat within a usable bound across seeds.
PER_LAYER = {
    "cold_suite_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "tables.register_s": "s",
    "tables.analyze_s": "s",
    "sources.dbgen.generate_s": "s",
    "sql.dialect.rewrite_ms": "ms",
    "sql.executor.build_ms": "ms",
    "spark.catalyst.plan_ms": "ms",
    "spark.sched.jobs_per_stmt": "count",
    "server.pgwire.overhead_ms": "ms",
    "server.pgwire.bytes_per_row": "B",
    "sql.executor.dml_ms": "ms",
    "sql.executor.dml_bytes_written": "B",
    "sql.executor.write_amp": "ratio",
    "spark.exec.stage_s": "s",
    "spark.exec.tasks": "count",
    "spark.exec.shuffle_write_mb": "MB",
    "spark.exec.shuffle_read_mb": "MB",
    "spark.exec.spill_mb": "MB",
    "spark.exec.rows_scanned_per_row_returned": "ratio",
    "registry.construct_ms": "ms",
    "functions.python_udf_s": "s",
    "operators.assets.build_s": "s",
    "operators.assets.hits": "count",
    "operators.assets.misses": "count",
    "operators.assets.resident_mb": "MB",
    "spark.transfer_ms": "ms",
    "spark.transfer_rows": "count",
    "layers.unattributed_share": "ratio",
    "layers.stmts_below_90pct": "count",
    "trace.overhead_s": "s",
    "pgwire.read_p50_ms": "ms",
    "pgwire.read_p99_ms": "ms",
    "pgwire.write_p50_ms": "ms",
    "pgwire.write_p90_ms": "ms",
}


# -- helpers -----------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MB (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def cached(name: str, compute):
    """Oracle answers, computed once per seed and corpus and pickled under
    the build directory (only this program writes those files)."""
    path = os.path.join(BUILD, "oracle", name + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def ensure_built(profile: str) -> tuple[str, float]:
    """Build the shared corpus in a child process when it is missing;
    returns (profile directory, seconds dbgen took if it ran now)."""
    pdir = os.path.join(BUILD, profile)
    if os.path.exists(os.path.join(pdir, build_marker(profile))):
        return pdir, 0.0
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build", profile],
        check=True,
        stdout=sys.stderr,
    )
    with open(os.path.join(pdir, "dbgen_s")) as f:
        return pdir, float(f.read())


def build_marker(profile: str) -> str:
    cfg = PROFILES[profile]
    return "_COMPLETE-" + "-".join(f"{k}{cfg[k]}" for k in sorted(cfg))


def build(profile: str) -> None:
    """Generate the dbgen TPC-H corpus, the fixed LLM tables the server's
    views also need, and the base document pool of the pipeline."""
    cfg = PROFILES[profile]
    pdir = os.path.join(BUILD, profile)
    shutil.rmtree(pdir, ignore_errors=True)
    shutil.rmtree(os.path.join(BUILD, "oracle"), ignore_errors=True)
    os.makedirs(pdir)
    spark = start_spark(NullTracer())
    try:
        t0 = time.perf_counter()
        tdir = corpus.tpch_dir(spark, pdir, cfg["sf"])
        with open(os.path.join(pdir, "dbgen_s"), "w") as f:
            f.write(repr(time.perf_counter() - t0))
    finally:
        stop_spark(spark)
    corpus.pipeline_corpus(tdir, 0, cfg["docs"], cfg["vecs"], cfg["events"] // 10)
    base = os.path.join(pdir, "pipeline_base")
    os.makedirs(base)
    corpus.write(
        corpus.documents(np.random.default_rng(0), cfg["docs"]),
        os.path.join(base, "documents.parquet"),
    )
    # The minhash oracle is the slow one (DuckDB list lambdas per char);
    # it runs once here and per-seed answers are derived by relabelling.
    import duckdb

    from risinglight_spark.registry import collect

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet')"
    )
    con.sql(collect()["dedup_minhash_lsh"].oracle).df().to_parquet(
        os.path.join(base, "minhash_oracle.parquet")
    )
    con.close()
    open(os.path.join(pdir, build_marker(profile)), "w").close()


def start_spark(tracer: Tracer):
    with tracer.span("session.start"):
        from risinglight_spark.session import get_spark

        return get_spark(app_name="perfbench")


def stop_spark(spark) -> None:
    """Stop Spark, close the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class Stats:
    """Latencies per statement kind, per pass, and the answer tally."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[float] = []  # pass wall times, first is cold
        self.lat: list[list[tuple[str, float]]] = []  # per pass (kind, s)
        self.lock = threading.Lock()

    def record(self, kind: str, seconds: float, ok: bool, what: str) -> None:
        with self.lock:
            self.attempted += 1
            self.lat[-1].append((kind, seconds))
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)

    def end_to_end(self, setup_s: float, rss_mb: float, warm_elapsed: float) -> dict:
        warm = self.passes[1:]
        warm_lat = [x for p in self.lat[1:] for x in p]
        per_kind: dict[str, list[float]] = {}
        for kind, s in warm_lat:
            per_kind.setdefault(kind, []).append(s)
        secs = [s for _, s in warm_lat]
        return {
            "setup_s": (setup_s, 1),
            "suite_s": (statistics.median(warm), len(warm)),
            "cold_suite_s": (self.passes[0], 1),
            "geomean_s": (
                math.exp(
                    statistics.fmean(
                        math.log(statistics.median(v)) for v in per_kind.values()
                    )
                ),
                len(per_kind),
            ),
            "p50_ms": (quantile(secs, 0.5) * 1000, len(secs)),
            "p90_ms": (quantile(secs, 0.9) * 1000, len(secs)),
            "ops_per_s": (len(secs) / warm_elapsed, len(secs)),
            "peak_rss_mb": (rss_mb, 1),
        }


class SqlRunner:
    """Runs statements on an in-process session; in a traced run it also
    reads each statement's jobs, stages, Catalyst phases and plan metrics,
    and splits its wall time into layers."""

    def __init__(self, spark, tracer: Tracer, traced: bool, build_span: str = "sql.executor.build"):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.traced = traced
        self.build_span = build_span
        self.n = 0
        self.layer = {
            "stmts": 0, "wall": 0.0, "unattributed": 0.0, "plan_ms": 0.0,
            "jobs": 0, "transfer": 0.0, "rows": 0, "scan_rows": 0.0,
            "stage_s": 0.0, "tasks": 0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0, "python_ms": 0.0, "under_90": 0,
        }

    def run(self, build, collect=None):
        """``build()`` -> DataFrame or None; ``collect(df)`` -> rows (default
        ``df.collect()``).  Returns the collected rows (None for a statement)."""
        self.n += 1
        group = f"perfbench-{self.n}"
        if self.traced:
            self.tracer.stmt = group
            self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.tracer.span(self.build_span):
            df = build()
        t1, e1 = time.perf_counter(), time.time()
        rows = None
        if df is not None:
            with self.tracer.span("spark.collect"):
                rows = collect(df) if collect else df.collect()
        t2, e2 = time.perf_counter(), time.time()
        if self.traced:
            self.sc.setJobGroup("", "")
            self._account(group, df, rows, t2 - t0, e1, e2)
            self.tracer.stmt = None
        return rows

    def _account(self, group, df, rows, wall, e1, e2) -> None:
        L = self.layer
        jr = job_readings(self.sc, group)
        L["stmts"] += 1
        L["wall"] += wall
        L["jobs"] += len(jr["jobs"])
        for k in ("stage_s", "tasks", "shuffle_read", "shuffle_write", "spill"):
            L[k] += jr[k]
        if df is None:
            return
        phases = plan_phases_ms(df._jdf)
        L["plan_ms"] += sum(phases.values())
        pm = plan_metrics(df._jdf)
        L["scan_rows"] += pm["scan_rows"]
        L["python_ms"] += pm["python_ms"]
        L["rows"] += len(rows)
        in_collect = [j for j in jr["jobs"] if j[0] >= e1 - 0.002]
        collect_s = e2 - e1
        planning = (phases.get("optimization", 0) + phases.get("planning", 0)) / 1000
        if in_collect:
            first = min(j[0] for j in in_collect)
            last = max(j[1] for j in in_collect)
            plan_gap = min(planning, max(first - e1, 0.0))
            transfer = max(e2 - last, 0.0)
            execute = max(last - first, 0.0)
        else:
            plan_gap = min(planning, collect_s)
            execute = 0.0
            transfer = collect_s - plan_gap
        L["transfer"] += transfer
        unattributed = max(collect_s - plan_gap - execute - transfer, 0.0)
        L["unattributed"] += unattributed
        L["under_90"] += unattributed > 0.1 * wall

    def per_layer(self, passes: int) -> dict[str, float]:
        L = self.layer
        n = max(L["stmts"], 1)
        t = self.tracer.sums
        return {
            "sql.dialect.rewrite_ms": 1000 * t["sql.dialect.rewrite"] / n,
            "sql.executor.build_ms": 1000 * (t["sql.executor.build"] - t["sql.dialect.rewrite"]) / n,
            "spark.catalyst.plan_ms": L["plan_ms"] / n,
            "spark.sched.jobs_per_stmt": L["jobs"] / n,
            "spark.exec.stage_s": L["stage_s"] / passes,
            "spark.exec.tasks": L["tasks"] / passes,
            "spark.exec.shuffle_write_mb": L["shuffle_write"] / 2**20 / passes,
            "spark.exec.shuffle_read_mb": L["shuffle_read"] / 2**20 / passes,
            "spark.exec.spill_mb": L["spill"] / 2**20 / passes,
            "spark.exec.rows_scanned_per_row_returned": L["scan_rows"] / max(L["rows"], 1),
            "functions.python_udf_s": L["python_ms"] / 1000 / passes,
            "spark.transfer_ms": 1000 * L["transfer"] / n,
            "spark.transfer_rows": L["rows"] / n,
            "layers.unattributed_share": L["unattributed"] / max(L["wall"], 1e-9),
            "layers.stmts_below_90pct": L["under_90"],
        }


def run_passes(stats: Stats, seconds: float, min_warm: int, one_pass) -> float:
    """Cold pass, then warm passes until ``seconds`` have passed since the
    first timed statement (at least ``min_warm``).  Returns the warm
    passes' elapsed wall time."""
    t_start = time.perf_counter()
    warm_start = None
    while True:
        stats.lat.append([])
        t0 = time.perf_counter()
        one_pass(len(stats.passes))
        stats.passes.append(time.perf_counter() - t0)
        if warm_start is None:
            warm_start = time.perf_counter()
        warm = len(stats.passes) - 1
        if warm >= min_warm and time.perf_counter() - t_start >= seconds:
            return time.perf_counter() - warm_start


# -- tpch --------------------------------------------------------------------


TPCH_TABLES = "region nation supplier part partsupp customer orders lineitem".split()


def tpch_oracle(tdir: str, params) -> dict[int, list[tuple]]:
    """DuckDB answers.  ``run_duck_stmt`` evaluates q15's view once into a
    table: DuckDB's parallel double sums are order-nondeterministic, and
    two evaluations of the view can disagree in the last bit and empty
    the ``total_revenue = max(total_revenue)`` join."""
    import duckdb

    from tpch_runner import run_duck_stmt

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet/*.parquet')"
        )
    out = {}
    for qn in range(1, 23):
        for s in tpch_queries.statements(qn, params):
            rows = run_duck_stmt(con, s)
            if rows is not None:
                out[qn] = rows
    con.close()
    return out


def workload_tpch(args, tracer: Tracer, cfg: dict, pdir: str) -> dict:
    sf = cfg["sf"]
    tdir = os.path.join(pdir, f"tpch_sf{sf:g}")
    params = tpch_queries.parameters(args.seed, sf)
    want = cached(
        f"{args.profile}-tpch-{args.seed}", lambda: tpch_oracle(tdir, params)
    )

    t0 = time.perf_counter()
    spark = start_spark(tracer)
    try:
        with tracer.span("tables.register"):
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
            for t in TPCH_TABLES:
                spark.sql(
                    f"CREATE TABLE {t} USING parquet LOCATION '{tdir}/{t}.parquet'"
                )
        with tracer.span("tables.analyze"):
            for t in TPCH_TABLES:
                spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        from risinglight_spark.sql.executor import StatementExecutor
        from risinglight_spark.sql.shell import is_query

        ex = StatementExecutor(spark, scratch=os.path.join(args.tmp, "executor"))
        setup_s = time.perf_counter() - t0
        runner = SqlRunner(spark, tracer, args.trace)
        if args.trace:
            patch_dialect(tracer)
        stats = Stats()

        def one_pass(i: int) -> None:
            for qn in range(1, 23):
                q0 = time.perf_counter()
                got, err = None, None
                try:
                    for s in tpch_queries.statements(qn, params):
                        if is_query(s):
                            got = runner.run(lambda s=s: ex.execute_query(s))
                        else:
                            runner.run(lambda s=s: ex.execute_statement(s) and None)
                except Exception as e:  # counted against the program
                    err = f"q{qn}: {type(e).__name__}: {str(e)[:200]}"
                dt = time.perf_counter() - q0
                ok = err is None and rows_match(got, want[qn])
                if not ok and err is None:
                    err = (
                        f"q{qn}: wrong answer: {len(got)} rows, first "
                        f"{got[:1]}; expected {len(want[qn])}, first {want[qn][:1]}"
                    )
                stats.record(f"q{qn}", dt, ok, err)

        warm_s = run_passes(stats, args.seconds, 1, one_pass)
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid())
        extra = {}
        if args.trace:
            extra = runner.per_layer(len(stats.passes))
            extra["trace.overhead_s"] = untraced_pass_delta(
                stats, runner, one_pass
            )
        ex.cleanup()
    finally:
        stop_spark(spark)
    return {"stats": stats, "setup_s": setup_s, "rss": rss, "warm_s": warm_s, "layers": extra}


def patch_dialect(tracer: Tracer) -> None:
    """Time the executor's calls into the dialect layer."""
    from risinglight_spark.sql import executor

    for attr in ("rewrite_query", "rewrite_ddl", "rewrite_era_literals"):
        tracer.wrap(executor, attr, "sql.dialect.rewrite")


def untraced_pass_delta(stats: Stats, runner: SqlRunner, one_pass) -> float:
    """Tracing overhead: the last traced warm pass minus one more pass run
    with tracing switched off."""
    runner.traced = False
    saved = runner.tracer
    runner.tracer = NullTracer()
    stats.lat.append([])
    t0 = time.perf_counter()
    one_pass(len(stats.passes))
    untraced = time.perf_counter() - t0
    stats.lat.pop()
    runner.tracer, runner.traced = saved, True
    return stats.passes[-1] - untraced


# -- pipeline ----------------------------------------------------------------


def pipeline_inputs(pdir: str, cfg: dict, seed: int) -> str:
    """This seed's pipeline corpus; earlier seeds' corpora are removed."""
    root = os.path.join(pdir, "pipeline")
    d = os.path.join(root, f"seed_{seed}")
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old != f"seed_{seed}":
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return d
    base = os.path.join(pdir, "pipeline_base", "documents.parquet")
    corpus.seeded_pipeline(d, base, seed, cfg["vecs"], cfg["events"])
    open(os.path.join(d, "_COMPLETE"), "w").close()
    return d


def pipeline_oracle(pdir: str, d: str, seed: int) -> dict[str, tuple[int, str]]:
    import duckdb
    import pandas as pd

    from oracle_check import value_hash
    from risinglight_spark.registry import collect

    entries = collect()
    out = {}
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    for name in PIPELINE_ENTRIES:
        if name == "dedup_minhash_lsh":
            continue
        odf = con.sql(entries[name].oracle).df()
        out[name] = (len(odf), value_hash(odf))
    con.close()
    # minhash pairs depend on text only: relabel the base answer
    base = pd.read_parquet(os.path.join(pdir, "pipeline_base", "minhash_oracle.parquet"))
    n = len(pd.read_parquet(os.path.join(pdir, "pipeline_base", "documents.parquet"), columns=["doc_id"]))
    perm = corpus.doc_permutation(seed, n)
    a, b = perm[base["doc_a"].to_numpy()], perm[base["doc_b"].to_numpy()]
    rel = pd.DataFrame(
        {"doc_a": np.minimum(a, b), "doc_b": np.maximum(a, b), "est_sim": base["est_sim"]}
    )
    out["dedup_minhash_lsh"] = (len(rel), value_hash(rel))
    return out


def patch_assets(tracer: Tracer, counts: dict) -> None:
    """Count memoized-asset hits and misses and time builds, by wrapping
    ``operators._cached_persisted`` wherever an operator module bound it."""
    from risinglight_spark import operators

    orig = operators._cached_persisted

    def wrapped(spark, sf_dir, kind, build, storage_level=None):
        built = []

        def timed_build():
            built.append(1)
            return build()

        t0 = time.perf_counter()
        with tracer.span("operators.assets.get"):
            df = orig(spark, sf_dir, kind, timed_build, storage_level)
        if built:
            counts["misses"] += 1
            counts["build_s"] += time.perf_counter() - t0
        else:
            counts["hits"] += 1
        return df

    for mod in list(sys.modules.values()):
        if getattr(mod, "_cached_persisted", None) is orig:
            mod._cached_persisted = wrapped


def resident_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def workload_pipeline(args, tracer: Tracer, cfg: dict, pdir: str) -> dict:
    from oracle_check import value_hash

    d = pipeline_inputs(pdir, cfg, args.seed)
    want = cached(
        f"{args.profile}-pipeline-{args.seed}", lambda: pipeline_oracle(pdir, d, args.seed)
    )

    t0 = time.perf_counter()
    spark = start_spark(tracer)
    try:
        from risinglight_spark import operators, tables
        from risinglight_spark.registry import collect

        with tracer.span("tables.register"):
            for t in ("documents", "embeddings", "events"):
                tables.load(spark, d, t)
        with tracer.span("registry.collect"):
            entries = collect()
        setup_s = time.perf_counter() - t0
        counts = {"hits": 0, "misses": 0, "build_s": 0.0}
        if args.trace:
            patch_assets(tracer, counts)
        runner = SqlRunner(spark, tracer, args.trace, build_span="registry.construct")
        stats = Stats()

        def one_pass(i: int) -> None:
            if i == 0:
                operators.clear_cached_assets()
            for name in PIPELINE_ENTRIES:
                q0 = time.perf_counter()
                got, err = None, None
                try:
                    got = runner.run(
                        lambda name=name: entries[name].fn(spark, d),
                        collect=lambda df: df.toPandas(),
                    )
                except Exception as e:  # counted against the program
                    err = f"{name}: {type(e).__name__}: {str(e)[:200]}"
                dt = time.perf_counter() - q0
                ok = err is None and (len(got), value_hash(got)) == want[name]
                stats.record(name, dt, ok, err or f"{name}: wrong answer")

        warm_s = run_passes(stats, args.seconds, 2, one_pass)
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid())
        extra = {}
        if args.trace:
            n_stmt = len(PIPELINE_ENTRIES) * len(stats.passes)
            extra = runner.per_layer(len(stats.passes))
            construct = tracer.sums["registry.construct"] - counts["build_s"]
            extra["registry.construct_ms"] = 1000 * construct / n_stmt
            extra["operators.assets.build_s"] = stats.passes[0] - statistics.median(stats.passes[1:])
            extra["operators.assets.hits"] = counts["hits"] / max(len(stats.passes) - 1, 1)
            extra["operators.assets.misses"] = counts["misses"]
            extra["operators.assets.resident_mb"] = resident_mb(spark)
            extra["trace.overhead_s"] = untraced_pass_delta(stats, runner, one_pass)
    finally:
        stop_spark(spark)
    return {"stats": stats, "setup_s": setup_s, "rss": rss, "warm_s": warm_s, "layers": extra}


# -- pgwire_mixed ------------------------------------------------------------


def agg_oracle(tdir: str, queries: list[str]) -> dict[str, list[tuple]]:
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer", "nation", "lineitem"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet/*.parquet')"
        )
    out = {q: con.sql(q).fetchall() for q in queries}
    con.close()
    return out


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def start_server(tdir: str, args) -> tuple[subprocess.Popen, int]:
    port = free_port()
    log_path = os.path.join(args.tmp, "server.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, "-m", "risinglight_spark.server",
             "--port", str(port), "--data", tdir],
            cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
        )
    return proc, port


def connect_when_ready(proc: subprocess.Popen, port: int, timeout: float = 170):
    deadline = time.time() + timeout
    while True:
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with {proc.returncode}")
        try:
            return pgwire_mix.Wire(port)
        except OSError:
            if time.time() > deadline:
                raise
            time.sleep(0.05)


def stop_server(proc: subprocess.Popen) -> None:
    """SIGINT ends serve_forever; the server's gateway JVM exits when the
    server's end of its stdin pipe closes.  Wait for both."""
    jvms = children_of(proc.pid)
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in jvms:
        while running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if running(pid):
            os.kill(pid, signal.SIGKILL)


def workload_pgwire(args, tracer: Tracer, cfg: dict, pdir: str) -> dict:
    tdir = os.path.join(pdir, f"tpch_sf{cfg['sf']:g}")
    queries = pgwire_mix.agg_queries(args.seed)
    answers = cached(
        f"{args.profile}-pgwire-{args.seed}", lambda: agg_oracle(tdir, queries)
    )
    clients = [pgwire_mix.Client(i, args.seed, answers) for i in range(PG_CLIENTS)]
    wire_bytes = {"bytes": 0, "rows": 0}

    t0 = time.perf_counter()
    proc, port = start_server(tdir, args)
    conns = []
    try:
        with tracer.span("server.start"):
            conns.append(connect_when_ready(proc, port))
            conns += [pgwire_mix.Wire(port) for _ in range(PG_CLIENTS - 1)]
        with tracer.span("pgwire.client_tables"):
            for c, w in zip(clients, conns):
                for s in c.setup_statements():
                    w.query(s)
        setup_s = time.perf_counter() - t0
        stats = Stats()
        batches: list[list] = []  # client 0's batches, for the traced replay

        def client_batch(i: int) -> None:
            c, w = clients[i], conns[i]
            batch = c.batch()
            if i == 0:
                batches.append(batch)
            for kind, sql, check in batch:
                q0 = time.perf_counter()
                err = None
                try:
                    rows, nbytes = w.query(sql)
                except (pgwire_mix.PgError, OSError) as e:
                    err = f"{kind}: {str(e)[:200]}"
                dt = time.perf_counter() - q0
                ok = err is None and (
                    check is None or pgwire_mix.rows_match(rows, check)
                )
                if ok and check is not None:
                    with stats.lock:
                        wire_bytes["bytes"] += nbytes
                        wire_bytes["rows"] += len(rows)
                stats.record(kind, dt, ok, err or f"{kind}: wrong answer: {sql}")

        def client_loop(i: int) -> list[float]:
            """Closed loop: batch after batch until the window closes."""
            walls = []
            while len(walls) < 2 or time.perf_counter() - t_start < args.seconds:
                b0 = time.perf_counter()
                client_batch(i)
                walls.append(time.perf_counter() - b0)
            return walls

        with ThreadPoolExecutor(PG_CLIENTS) as pool:
            # cold pass: every client's first batch; then the clients run
            # free, and each warm batch is one sample of suite_s
            t_start = time.perf_counter()
            stats.lat.append([])
            for f in [pool.submit(client_batch, c) for c in range(PG_CLIENTS)]:
                f.result()
            stats.passes.append(time.perf_counter() - t_start)
            stats.lat.append([])
            warm_start = time.perf_counter()
            for f in [pool.submit(client_loop, c) for c in range(PG_CLIENTS)]:
                stats.passes += f.result()
            warm_s = time.perf_counter() - warm_start
        server_jvms = children_of(proc.pid)
        rss = (
            vm_hwm_mb(os.getpid())
            + vm_hwm_mb(proc.pid)
            + sum(vm_hwm_mb(p) for p in server_jvms)
        )
    finally:
        for w in conns:
            w.close()
        stop_server(proc)

    warm = [x for p in stats.lat[1:] for x in p]
    reads = [s for k, s in warm if k in pgwire_mix.READS]
    writes = [s for k, s in warm if k not in pgwire_mix.READS]
    split = {
        "pgwire.read_p50_ms": (quantile(reads, 0.5) * 1000, len(reads)),
        "pgwire.read_p99_ms": (quantile(reads, 0.99) * 1000, len(reads)),
        "pgwire.write_p50_ms": (quantile(writes, 0.5) * 1000, len(writes)),
        "pgwire.write_p90_ms": (quantile(writes, 0.9) * 1000, len(writes)),
    }
    extra = {}
    if args.trace:
        extra = pgwire_replay(args, tracer, tdir, batches, answers, stats)
        extra["server.pgwire.bytes_per_row"] = wire_bytes["bytes"] / max(wire_bytes["rows"], 1)
    extra.update({k: v[0] for k, v in split.items()})
    return {"stats": stats, "setup_s": setup_s, "rss": rss, "warm_s": warm_s,
            "layers": extra, "split": split}


ROW_BYTES = 16  # one (id INT, k VARCHAR(~7), v INT) row


def rows_named(sql: str) -> int:
    """Rows a generated write names: one, or the width of its id range."""
    m = re.search(r"BETWEEN (\d+) AND (\d+)", sql)
    return int(m.group(2)) - int(m.group(1)) + 1 if m else 1


def pgwire_replay(args, tracer, tdir, batches, answers, stats) -> dict:
    """Replay client 0's statements in-process through ``Shell.run`` to
    read the layers behind the wire: dialect, executor, Catalyst, jobs,
    copy-on-write DML and its bytes written."""
    spark = start_spark(tracer)
    try:
        from risinglight_spark.sql.shell import Shell

        with tracer.span("tables.register"):
            shell = Shell(spark, tdir)
        patch_dialect(tracer)
        runner = SqlRunner(spark, tracer, True)
        replay = pgwire_mix.Client(0, args.seed, answers)
        for s in replay.setup_statements():
            shell.run(s)
        pid = jvm_pid()
        inproc: dict[str, list[float]] = {}
        dml = {"s": 0.0, "n": 0, "bytes": 0, "row_bytes": 0}
        for batch in batches:
            for kind, sql, _ in batch:
                is_read = kind in pgwire_mix.READS
                w0, q0 = proc_io_written(pid), time.perf_counter()
                if is_read:
                    runner.run(lambda sql=sql: shell.run(sql))
                else:
                    runner.run(lambda sql=sql: shell.run(sql) and None)
                dt = time.perf_counter() - q0
                inproc.setdefault(kind, []).append(dt)
                if not is_read:
                    dml["s"] += dt
                    dml["n"] += 1
                    dml["bytes"] += proc_io_written(pid) - w0
                    dml["row_bytes"] += ROW_BYTES * rows_named(sql)
        shell.ex.cleanup()
        out = runner.per_layer(max(len(batches), 1))
    finally:
        stop_spark(spark)
    wire: dict[str, list[float]] = {}
    for p in stats.lat[1:]:
        for kind, s in p:
            wire.setdefault(kind, []).append(s)
    over = [
        statistics.median(wire[k]) - statistics.median(inproc[k])
        for k in pgwire_mix.READS
        if k in wire and k in inproc
    ]
    out["server.pgwire.overhead_ms"] = 1000 * statistics.fmean(over) if over else 0.0
    out["sql.executor.dml_ms"] = 1000 * dml["s"] / max(dml["n"], 1)
    out["sql.executor.dml_bytes_written"] = dml["bytes"] / max(dml["n"], 1)
    out["sql.executor.write_amp"] = dml["bytes"] / max(dml["row_bytes"], 1)
    return out


# -- report ------------------------------------------------------------------

WORKLOADS = {
    "tpch": workload_tpch,
    "pgwire_mixed": workload_pgwire,
    "pipeline": workload_pipeline,
}


def report(args, res: dict, tracer: Tracer, built_s: float) -> dict:
    stats: Stats = res["stats"]
    e2e = stats.end_to_end(res["setup_s"], res["rss"], res["warm_s"])
    print(f"# workload {args.workload} seed {args.seed} profile {args.profile}")
    units = {**PER_LAYER, **END_TO_END}
    for name, (value, n) in e2e.items():
        print(f"{name} = {value:.6g} {units[name]} (samples {n})")
    for name, (value, n) in res.get("split", {}).items():
        print(f"{name} = {value:.6g} {PER_LAYER[name]} (samples {n})")
    rate = stats.failed / stats.attempted
    print(f"error_rate = {rate:.6g} ({stats.failed} of {stats.attempted} operations)")
    for e in stats.errors:
        print(f"failed: {e}")
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res["layers"])
        sums = tracer.sums
        layers["session.start_s"] = sums["session.start"]
        layers["tables.register_s"] = sums["tables.register"]
        layers["tables.analyze_s"] = sums["tables.analyze"]
        layers["sources.dbgen.generate_s"] = built_s
        layers["cold_suite_s"] = e2e["cold_suite_s"][0]
        layers["peak_rss_mb"] = e2e["peak_rss_mb"][0]
        for name in PER_LAYER:
            print(f"{name} = {layers[name]:.6g} {PER_LAYER[name]}")
        spans = os.path.join(args.tmp, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans)
        print(f"# spans written to {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": stats.failed == 0,
        "attempted": stats.attempted,
        "failed": stats.failed,
        "metrics": metrics,
    }


class InjectedFailure(BaseException):
    """Self-test failure; a BaseException so no statement handler counts
    it as one failed operation and carries on."""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=sorted(PROFILES), default="full")
    ap.add_argument("--build", choices=sorted(PROFILES))
    ap.add_argument("--fail-after", type=float, default=None,
                    help="self-test hook: raise this many seconds into the run")
    args = ap.parse_args(argv)
    if args.build:
        build(args.build)
        return 0
    if args.fail_after is not None:
        timer = threading.Timer(args.fail_after, os.kill, (os.getpid(), signal.SIGUSR1))
        timer.daemon = True
        timer.start()

        def boom(*_):
            raise InjectedFailure("injected failure")

        signal.signal(signal.SIGUSR1, boom)
    pdir, built_s = ensure_built(args.profile)
    args.tmp = os.environ.get("TMPDIR", os.path.join(BUILD, "tmp"))
    tracer = Tracer() if args.trace else NullTracer()
    res = WORKLOADS[args.workload](args, tracer, PROFILES[args.profile], pdir)
    result = report(args, res, tracer, built_s)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
