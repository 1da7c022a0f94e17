"""Benchmark of the pedri-analysis-spark engine: one command per workload, or all.

    python3 perfbench/run.py --workload season_pipeline --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The command generates the workload's
inputs from ``--seed`` under ``.perfbench_work/`` (removed when it ends),
starts one Spark session on ``local[<nproc>]`` with as many shuffle
partitions, runs bench.py's warm-ups (and, for the catalog, one untimed
pass), then runs iterations back to back (a closed loop with one client)
until ``--seconds`` have passed, at least one. The pipeline's timed
iteration is the session's first ``run_all`` call, what a user of the
``run_all`` command waits for; the catalog's are warm passes, as in a
long-lived session. After the timed loop it checks every output against
its oracle.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The full results
of every run, and the spans of a traced run, go to ``.perfbench_out/``.
See ``perfbench/README.md``.

Exit status: 0 when every output matched and no call failed, 1 otherwise,
2 when the program under test is not in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
sys.path.insert(0, HERE)

from spans import BUILD_LAYERS, Tracer, descendants, loadavg, peak_rss_mb  # noqa: E402

# Registered catalog queries, one or two per family. The list is short
# so that one run fits an untimed pass and three timed passes in the
# benchmark's budget (48 runs in 3420 s, each with a 7-20 s Spark session
# start). No memoized pedri_run_all_* rows: season_pipeline measures
# run_all itself.
CATALOG = [
    # star-schema joins and aggregates
    "join_revenue_by_nation",
    # windows and streaming
    "window_lag_delta", "session_windows",
    # text
    "token_topk",
    # dedup
    "simhash_near_dups",
    # similarity (pandas UDF)
    "cosine_topk_bruteforce",
    # iterative graph: triangle counting is plan-build-bound
    "triangle_count_copurchase",
    # statistics
    "kendall_tau_daily",
    # governance
    "k_anonymity_report",
    # fixture-backed pedri pipeline query
    "pedri_per_match_basic",
]
# call_p50_s is the median over the catalog's queries of each query's median
# latency. On season_pipeline an iteration is one run_all call, so there it
# is an alias of iteration_s.
END_TO_END = {"setup_s": "s", "iteration_s": "s", "call_p50_s": "s"}
# The metrics a traced run prints, with their units (BENCHMARK.json
# "per_layer"). Two more go to the results file only, because they are 0
# by construction on the catalog workload: sources.sinks.write_s and
# run_all.self_s.
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.exchanges": "count", "plans.single_partition_exchanges": "count", "plans.python_udf_nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sources.events.scan_s": "s", "sources.events.rows": "count", "sources.events.read_amplification": "ratio",
    "cache.peak_memory_bytes": "bytes",
    "sources.sinks.calls": "count", "sources.sinks.jobs": "count", "sources.sinks.bytes": "bytes",
    "pedri_pipeline.build_s": "s", "viz.build_s": "s", "run_all.jobs": "count",
    "process.peak_rss_mb": "MB",
    "trace.iteration_s": "s", "trace.overhead_s": "s", "trace.unattributed_s": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _warm_shuffle(spark) -> None:
    """Join, aggregate, window and sort once on a generated range: the
    generic shuffle code paths both workloads use are JIT-compiled in
    set-up, not charged to whichever timed call comes first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = spark.range(20000).withColumn("k", F.col("id") % 97)
    (
        w.join(w.groupBy("k").count(), "k")
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .groupBy("rn").agg(F.sum("count").alias("n"))
        .orderBy("rn")
        .collect()
    )


def _viz_builders(viz) -> list[str]:
    return [n for n in dir(viz) if n.endswith("_data") and callable(getattr(viz, n))]


class SeasonPipeline:
    """``run_all`` over a seeded season corpus: JSON ingest, the
    session-wide event cache, the coalesce(1) file sinks, the figure data
    builders and the orchestrator."""

    name = "season_pipeline"
    # The timed iteration is the session's first run_all call, what a user
    # of the run_all command waits for.
    warmup_iterations = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.corpus = os.path.join(work, "season")
        self.runs = 0
        self.artifacts0: dict | None = None
        self.digests0: dict | None = None
        self.problems: dict[str, str] = {}

    def prepare(self) -> dict:
        import gen_season

        return gen_season.generate(self.corpus, self.seed)

    def iteration(self, spark, tracer=None) -> tuple[list[float], int]:
        """One run_all call; returns ([latency], failed calls)."""
        import verify
        from pedri_analysis_spark.run_all import run_all

        out = os.path.join(self.work, "out", str(self.runs))
        self.runs += 1
        t0 = time.perf_counter()
        if tracer is None:
            arts = run_all(spark, self.corpus, None, out)
        else:
            with tracer.span("run_all", "run_all", json_source=True):
                arts = run_all(spark, self.corpus, None, out)
            tracer.collect()
        dt = time.perf_counter() - t0
        digests = verify.digests(arts)
        if self.artifacts0 is None:
            # the first iteration's files are kept for the oracle check
            self.artifacts0, self.digests0 = arts, digests
        else:
            diff = sorted(k for k in set(digests) | set(self.digests0) if digests.get(k) != self.digests0.get(k))
            if diff:
                self.problems["digests"] = f"artifacts differ between iterations: {diff}"
            shutil.rmtree(out, ignore_errors=True)
        return [dt], 0

    def verify(self, oracle_sql: dict) -> dict[str, str]:
        """Oracle check of the first iteration's artifacts."""
        import verify
        from pedri_analysis_spark.plans.pedri_queries import FIXTURE_EVENTS

        bad = verify.check_artifacts(self.artifacts0, self.corpus, FIXTURE_EVENTS, oracle_sql)
        bad.update(self.problems)
        return bad

    def iteration_s(self, walls: list[float], per_call: list[float]) -> float:
        return statistics.median(walls)

    def call_medians(self, lat: list[float]) -> list[float]:
        """One run_all call per iteration: every call is its own sample."""
        return lat

    def events_dir(self) -> str:
        return self.corpus

    def patch(self, tracer) -> list:
        """Wrap the names run_all imports, and viz's data builders."""
        import pedri_analysis_spark.run_all as ra
        from pedri_analysis_spark import viz
        from pedri_analysis_spark.sources import events

        undo = tracer.patch(ra, ["read_events"], "sources.events")
        undo += tracer.patch(events, ["read_profile"], "sources.events")
        undo += tracer.patch(
            ra, ["per_match_basic", "per_match_extended", "lineup_position", "player_team", "minutes_estimate"],
            "pedri_pipeline", plan=True,
        )
        undo += tracer.patch(ra, ["write_csv_single", "write_text_list"], "sources.sinks", sink=True)
        undo += tracer.patch(viz, _viz_builders(viz), "viz", plan=True)
        return undo


class Catalog:
    """One pass over a fixed list of registered catalog queries, each
    collected, with ``clearCache()`` between queries as ``bench.py`` does.
    The collected rows are the ones the oracle check compares."""

    name = "catalog_sf0.001"
    # One untimed pass in set-up, so the timed passes measure the warm
    # per-query latency of a long-lived session, as bench.py's best-of-N
    # does, not the JIT and code generation of the first pass.
    warmup_iterations = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf0.001")
        self.queries: dict = {}
        self.results: dict = {}
        self.problems: dict[str, str] = {}
        self.latencies: dict[str, list[float]] = {}

    def prepare(self) -> dict:
        import gen_tables

        return gen_tables.generate(self.sf_dir, self.seed)

    def load(self, queries: dict) -> None:
        missing = [q for q in CATALOG if q not in queries]
        if missing:
            raise SystemExit(f"perfbench: catalog queries not registered: {missing}")
        self.queries = {q: queries[q] for q in CATALOG}

    def iteration(self, spark, tracer=None) -> tuple[list[float], int]:
        """One pass; returns (per-query latencies, failed queries)."""
        lat, failed = [], 0
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = fn(spark, self.sf_dir)
                    rows = df.collect()
                else:
                    with tracer.span(name, "query", json_source=name.startswith("pedri_")):
                        df = tracer.wrap(fn, name, "plans", plan=True)(spark, self.sf_dir)
                        with tracer.span("collect", "exec"):
                            rows = df.collect()
                lat.append(time.perf_counter() - t0)
                self._keep(name, df.columns, rows)
            except Exception as exc:  # noqa: BLE001 - one failing query must fail alone
                lat.append(time.perf_counter() - t0)
                failed += 1
                self.problems[name] = f"{type(exc).__name__}: {exc}"[:300]
            self.latencies.setdefault(name, []).append(lat[-1])
            spark.catalog.clearCache()
            if tracer is not None:
                tracer.collect()
        return lat, failed

    def _keep(self, name: str, columns: list[str], rows) -> None:
        """Keep the first result for the oracle check; later ones must
        equal it."""
        import verify

        result = (columns, [tuple(r) for r in rows])
        if name not in self.results:
            self.results[name] = result
        elif verify.compare(*result, *self.results[name]):
            self.problems[name] = "result differs between iterations"

    def verify(self, oracle_sql: dict) -> dict[str, str]:
        """Compare each query's result with its DuckDB oracle."""
        import verify

        bad = verify.check_catalog(self.sf_dir, self.results, oracle_sql)
        bad.update(self.problems)
        return bad

    def call_medians(self, lat: list[float]) -> list[float]:
        """Each query's median latency over the timed passes. A burst of
        host load slows one call of one query and moves none of these."""
        return [statistics.median(q[self.warmup_iterations:]) for q in self.latencies.values()]

    def iteration_s(self, walls: list[float], per_call: list[float]) -> float:
        """One pass made of each query's median latency: steadier than a
        median of whole passes, of which a run has only three or four."""
        return sum(per_call)

    def events_dir(self) -> str:
        from pedri_analysis_spark.plans.pedri_queries import FIXTURE_EVENTS

        return FIXTURE_EVENTS

    def patch(self, tracer) -> list:
        """Wrap the pipeline builders, event reads and viz data builders the
        fixture-backed queries call (query functions are wrapped per call)."""
        from pedri_analysis_spark import viz
        from pedri_analysis_spark.plans import pedri_pipeline, pedri_profile_queries, pedri_queries
        from pedri_analysis_spark.sources import events

        undo = tracer.patch(pedri_queries, ["read_events"], "sources.events")
        undo += tracer.patch(events, ["read_profile"], "sources.events")
        for mod in (pedri_queries, pedri_profile_queries):
            names = [n for n in dir(mod) if not n.startswith("_") and n != "pround"
                     and callable(getattr(mod, n)) and getattr(pedri_pipeline, n, None) is getattr(mod, n)]
            undo += tracer.patch(mod, names, "pedri_pipeline", plan=True)
        undo += tracer.patch(viz, _viz_builders(viz), "viz", plan=True)
        return undo


def _session(work: str):
    from pedri_analysis_spark.session import get_spark

    n = _nproc()
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _layer_metrics(tracer, setup: dict, scan: dict, corpus_bytes: int) -> dict:
    """Per-layer metrics of the spans recorded so far (one iteration)."""
    kids = tracer.children()
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def jobs_under(roots):
        ids = {x.id for r in roots for x in tracer.subtree(r, kids)}
        return [j for sid in ids for j in tracer.jobs.get(sid, [])]

    def outermost(layers):
        return [s for s in spans if s.layer in layers and not any(a.layer in layers for a in ancestors(s))]

    def total(layer):
        return sum(s.end - s.start for s in outermost((layer,)))

    builds = outermost(BUILD_LAYERS)
    iters = [s for s in spans if s.layer == "iteration"]
    sinks = [s for s in spans if s.layer == "sources.sinks"]
    run_alls = [s for s in spans if s.layer == "run_all"]
    json_read = sum(s.attrs.get("jvm_read_bytes", 0) for s in spans if s.attrs.get("json_source"))

    m = {
        "session.start_s": setup["session_s"],
        "registry.load_s": setup["registry_s"],
        "plans.build_s": sum(s.end - s.start for s in builds),
        "plans.build_jobs": len(jobs_under(builds)),
    }
    for key in ("analysis_ms", "optimization_ms", "planning_ms", "exchanges",
                "single_partition_exchanges", "python_udf_nodes"):
        m[f"plans.{key}"] = sum(float(s.attrs.get(key, 0)) for s in builds)
    m.update({f"exec.{k}": v for k, v in tracer.exec_counters(jobs_under(iters)).items()})
    m.update({
        "sources.events.scan_s": scan["scan_s"],
        "sources.events.rows": scan["rows"],
        "sources.events.read_amplification": json_read / max(1, corpus_bytes),
        "cache.peak_memory_bytes": tracer.cache_peak,
        "sources.sinks.write_s": total("sources.sinks"),
        "sources.sinks.calls": len(sinks),
        "sources.sinks.jobs": len(jobs_under(sinks)),
        "sources.sinks.bytes": sum(s.attrs.get("bytes", 0) for s in sinks),
        "pedri_pipeline.build_s": total("pedri_pipeline"),
        "viz.build_s": total("viz"),
        "run_all.self_s": sum(tracer.self_time(s, kids) for s in run_alls),
        "run_all.jobs": sum(len(tracer.jobs.get(s.id, [])) for s in run_alls),
        "trace.iteration_s": sum(s.end - s.start for s in iters),
        "trace.unattributed_s": sum(tracer.self_time(s, kids) for s in iters),
    })
    return m


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _traced(spark, wl, setup: dict, seed: int) -> tuple[dict, list[float], list[float], int]:
    """The traced run: the first iteration after set-up traced (per-layer
    metrics come from it), one standalone scan of the event source, then
    an untraced and a traced warm iteration whose difference is the
    tracing overhead. Returns (layers, iteration walls, latencies, failed)."""
    from pedri_analysis_spark.sources.events import read_events

    tracer = Tracer(spark)
    tracer.counters.new_jobs()  # set-up jobs are not traced
    walls, lat, failed = [], [], 0

    def one(traced: bool) -> float:
        nonlocal failed
        undo = wl.patch(tracer) if traced else []
        tracer.iteration = len(walls)
        t = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"iteration-{tracer.iteration}", "iteration"):
                    l_i, f_i = wl.iteration(spark, tracer)
            else:
                l_i, f_i = wl.iteration(spark)
        finally:
            tracer.unpatch(undo)
        walls.append(time.perf_counter() - t)
        lat.extend(l_i)
        failed += f_i
        return walls[-1]

    one(traced=True)
    t = time.perf_counter()
    read_events(spark, wl.events_dir()).write.format("noop").mode("overwrite").save()
    scan = {"scan_s": time.perf_counter() - t, "rows": read_events(spark, wl.events_dir()).count()}
    layers = _layer_metrics(tracer, setup, scan, _dir_bytes(wl.events_dir()))
    untraced = one(traced=False)
    layers["trace.overhead_s"] = one(traced=True) - untraced
    layers["process.peak_rss_mb"] = peak_rss_mb()
    tracer.dump(os.path.join(OUT, f"{wl.name}-seed{seed}-spans.json"),
                {"workload": wl.name, "seed": seed, "per_layer": layers})
    return layers, walls, lat, failed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited. The JVM exits when its stdin closes, its workers with it."""
    gateway = spark.sparkContext._gateway
    jvm = [gateway.proc.pid] + descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in jvm) and time.monotonic() < deadline:
        time.sleep(0.05)


def run(args, work: str) -> dict:
    load_before = loadavg()
    wl = (SeasonPipeline if args.workload == SeasonPipeline.name else Catalog)(work, args.seed)
    t = time.perf_counter()
    inputs = wl.prepare()
    gen_s = time.perf_counter() - t
    _log(f"{wl.name}: inputs {json.dumps(inputs)} generated in {gen_s:.1f} s (not in setup_s)")

    t = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        from pedri_analysis_spark.plans import all_oracle_sql, all_queries

        queries, oracle_sql = all_queries(), all_oracle_sql()
        registry_s = time.perf_counter() - t
        if isinstance(wl, Catalog):
            wl.load(queries)
        # bench.py's warm-ups: JVM/codegen, then the Arrow/Python worker pool
        from bench import _warm_udf

        spark.range(1000).selectExpr("sum(id)").collect()
        spark.range(1024).select(_warm_udf()("id")).collect()
        _warm_shuffle(spark)
        for _ in range(wl.warmup_iterations):
            wl.iteration(spark)
        setup_s = time.perf_counter() - T_START - gen_s

        layers = None
        if args.trace:
            layers, walls, lat, failed = _traced(
                spark, wl, {"session_s": session_s, "registry_s": registry_s}, args.seed)
        else:
            walls, lat, failed = [], [], 0
            t_loop = time.perf_counter()
            while not walls or time.perf_counter() - t_loop < args.seconds:
                t = time.perf_counter()
                l_i, f_i = wl.iteration(spark)
                walls.append(time.perf_counter() - t)
                lat += l_i
                failed += f_i
        rss = peak_rss_mb()
        bad = wl.verify(oracle_sql)
    finally:
        _stop_session(spark)

    for k, v in sorted(bad.items()):
        _log(f"MISMATCH {k}: {v}")
    per_call = wl.call_medians(lat)
    e2e = {
        "setup_s": (setup_s, 1),
        "iteration_s": (wl.iteration_s(walls, per_call), len(walls)),
        "call_p50_s": (statistics.median(per_call), len(lat)),
        "call_p90_s": (_quantile(per_call, 0.9), len(lat)),
    }
    for name, (v, n) in e2e.items():
        print(f"{wl.name} {name} = {v:.4f} s (n={n})")
    context = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": _nproc(), "loadavg_before": load_before, "loadavg_after": loadavg(),
        "inputs": inputs, "generate_s": gen_s, "iteration_walls_s": walls, "peak_rss_mb": rss,
        "call_latencies_s": getattr(wl, "latencies", None),
        "attempted": len(lat), "failed": failed, "failed_ops_ratio": failed / len(lat), "mismatches": bad,
    }
    _log(f"context {json.dumps({k: context[k] for k in ('nproc', 'loadavg_before', 'loadavg_after')})}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"context": context, "end_to_end": {k: v for k, (v, _) in e2e.items()},
                   "per_layer": layers}, f, indent=1)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not bad and failed == 0, "attempted": len(lat), "failed": failed, "metrics": metrics}


WORKLOADS = [SeasonPipeline.name, Catalog.name]


def _run_all_workloads(args) -> None:
    """``--workload all``: each workload in its own process, one after the
    other; the last line sums them and keys metrics by workload."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if result is None or proc.returncode != 0:
            total["correct"] = False
        if result is not None:
            total["attempted"] += result["attempted"]
            total["failed"] += result["failed"]
            total["metrics"].update({f"{name}/{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total), flush=True)
    sys.exit(0 if total["correct"] else 1)


def main() -> None:
    ap = argparse.ArgumentParser(description="pedri-analysis-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pedri_analysis_spark")):
        _log(f"the program under test (pedri_analysis_spark/) is not in {ROOT}")
        sys.exit(2)
    if args.workload == "all":
        _run_all_workloads(args)
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # all scratch space inside the checkout: Python's, the JVM's (see
    # _session) and Spark's, which SPARK_LOCAL_DIRS would otherwise move
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
