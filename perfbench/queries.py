"""``query_mix``: declared SQL-analytics and LLM-pipeline queries on Spark
``local[ncpu]``, one query outstanding at a time.

Each timed op is one query: the registry builder call (catalog resolution,
fixture boot, eager work) plus a ``noop`` sink write that executes the whole
plan JVM-side.  A run has two phases:

1. set-up: start Spark, then one cold pass that checks every query.  That
   pass is each query's first execution (JIT of its plan shape, catalog
   fixture boot, Python worker start).  ``setup_s`` counts Spark start and
   the pass's Spark-side time; the checker's own time is measured and left
   out.  The checks:

   * oracle-bearing queries must hash-match DuckDB via ``plans.oracle.check_query``;
   * rows-only queries must return a non-empty result with their known schema;
   * catalog-resolved queries must resolve every scan through their named
     catalog in the analyzed plan (a temp-view or bridge fallback is a failure).

2. timed passes, each query once per pass in seed-shuffled order.
"""

from __future__ import annotations

import os
import random
import re
import time

from harness import Tracer, median, percentile, tree_peak_rss_mb

# Catalog-resolved scans and the analyzed-plan leaf each must have: a DSv2
# relation of the named Spark catalog (``<prefix><md5 tag>.``), or of the
# ``lance_namespace`` Python data source.
_CATALOG_LEAF = r"^RelationV2\[.*\] {}[0-9a-f]{{8}}\."
CATALOG_RESOLVED = {
    "q03_catalog_resolved_scan": None,  # Python DirectoryNamespace -> parquet scan
    "q113_python_datasource": r"^RelationV2\[.*\] lance_namespace$",
    "q155_jvm_rest_catalog": _CATALOG_LEAF.format("lake_rest_"),
    "q156_hive_thrift_catalog": _CATALOG_LEAF.format("lake_hms_jvm_"),
    "q168_jvm_unity_catalog": _CATALOG_LEAF.format("lake_uc_"),
    "q172_jvm_glue_catalog": _CATALOG_LEAF.format("lake_glue_"),
    "q173_polaris_catalog": _CATALOG_LEAF.format("lake_pol_"),
}
TPCH = ("q83_tpch_q3_shape", "q183_tpch_q6_forecast")
DEDUP = ("q45_exact_dedup_stats", "q52_minhash_neardup")
# brute-force top-k (similarity), IVF-PQ search (embedding_ops), exact kNN
# graph (knn_graph) and HNSW search (hnsw_graph)
VECTOR = ("q55_cosine_topk_brute", "q69_embedding_neardup", "q218_ivfpq_search",
          "q270_knn_graph", "q394_hnsw_neighbor_search")
TEXT = ("q48_token_count", "q102_pii_scrub")
GROUPS = {
    "catalog_resolved": tuple(CATALOG_RESOLVED), "tpch": TPCH,
    "dedup": DEDUP, "vector": VECTOR, "text": TEXT,
}
# Queries without a DuckDB oracle: non-empty result with this schema.
ROWS_ONLY_SCHEMA = {
    "q52_minhash_neardup": "struct<id_a:bigint,id_b:bigint,sim:double>",
    "q55_cosine_topk_brute": "struct<query_id:bigint,vec_id:bigint,sim:double,rank:bigint>",
}
ALL_QUERIES = tuple(q for qs in GROUPS.values() for q in qs)
MIN_TIMED_PASSES = 2


def resolution_problem(name: str, df, sf_dir: str) -> str | None:
    """Why ``df`` did not resolve through its named catalog, or None."""
    plan = df._jdf.queryExecution().analyzed().toString()
    leaves = [ln.strip(" :+-") for ln in plan.splitlines() if "Relation" in ln]
    if not leaves:
        return "no relation in the analyzed plan"
    leaf = CATALOG_RESOLVED[name]
    if leaf is None:
        # The Python catalog hands Spark the declared location: the scan must
        # read exactly that file.
        files = [f.removeprefix("file://") for f in df.inputFiles()]
        want = os.path.join(sf_dir, "region.parquet")
        return None if files == [want] else f"scanned {files}, declared {want}"
    bad = [ln for ln in leaves if not re.match(leaf, ln)]
    return None if not bad else f"not resolved as {leaf}: {bad[0][:160]}"


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def start_spark():
    import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
    from lance_namespace_impls_spark import get_spark
    from lance_namespace_impls_spark.plans.registry import QUERIES

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, QUERIES


def run(seed: int, seconds: float, trace: bool, work: str, sf_dir: str) -> dict:
    from lance_namespace_impls_spark.catalog.jvm_catalog import ensure_catalog_jar

    ensure_catalog_jar()  # build step (compiles once per checkout), not set-up
    names = list(ALL_QUERIES)
    tracer = Tracer(trace)
    t0 = time.perf_counter()
    spark, queries = start_spark()
    spark_s = time.perf_counter() - t0
    try:
        cold = list(names)
        random.Random(seed ^ 0x3A3A).shuffle(cold)
        checks, cold_s = check_pass(spark, queries, cold, sf_dir)
        timed = timed_passes(spark, queries, names, seed, seconds, tracer, sf_dir)
        # Read while the JVM and the Python workers are still alive.
        peak_rss = tree_peak_rss_mb()
        heap_peak_mb = jvm_heap_peak_mb(spark)
        timed["selftest_ok"] = _selftest(spark, queries, sf_dir)
    finally:
        spark.stop()
    timed.update(setup_s=spark_s + cold_s, heap_peak_mb=heap_peak_mb,
                 py_peak_rss_mb=sum(mb for comm, mb in peak_rss.items() if comm != "java"),
                 jvm_peak_rss_mb=peak_rss.get("java", 0.0),
                 checks=checks, names=names, tracer=tracer)
    return timed


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the driver JVM's per-pool peak heap use since it started."""
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed() for pool in factory.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    ) / 2**20


class _TimedConnection:
    """DuckDB connection stand-in that adds up the time spent in DuckDB."""

    def __init__(self, con):
        self._con = con
        self.seconds = 0.0

    def execute(self, sql):
        t0 = time.perf_counter()
        try:
            return _TimedResult(self._con.execute(sql), self)
        finally:
            self.seconds += time.perf_counter() - t0


class _TimedResult:
    def __init__(self, res, owner: _TimedConnection):
        self._res = res
        self._owner = owner
        self.description = res.description

    def _timed(self, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self._owner.seconds += time.perf_counter() - t0

    def fetchall(self):
        return self._timed(self._res.fetchall)

    def df(self):
        return self._timed(self._res.df)


def check_pass(spark, queries, names: list[str], sf_dir: str) -> tuple[dict[str, str | None], float]:
    """Output checks, one execution per query in ``names`` order.

    Returns query -> problem (None when correct), and the pass's time less
    the checker's own: DuckDB (timed at the connection) and the resolution
    check, which re-runs the builder after the checked execution.
    """
    from lance_namespace_impls_spark.operators.scale_windows import release_ranged_caches
    from lance_namespace_impls_spark.plans.oracle import check_query, duckdb_connection

    con = _TimedConnection(duckdb_connection(sf_dir))
    out: dict[str, str | None] = {}
    t0 = time.perf_counter()
    checker_s = 0.0
    try:
        for name in names:
            try:
                if queries[name].oracle is None:
                    df = queries[name].builder(spark, sf_dir)
                    rows = df.collect()
                    schema = df.schema.simpleString()
                    want = ROWS_ONLY_SCHEMA.get(name)
                    problem = (
                        None if rows and schema == want
                        else f"{len(rows)} rows, schema {schema}, want non-empty {want}"
                    )
                else:
                    res = check_query(spark, con, name, sf_dir)
                    problem = None if res.get("ok") else f"oracle mismatch: {res}"
                if problem is None and name in CATALOG_RESOLVED:
                    t1 = time.perf_counter()
                    problem = resolution_problem(name, queries[name].builder(spark, sf_dir), sf_dir)
                    checker_s += time.perf_counter() - t1
                out[name] = problem
            except Exception as exc:  # a failing query is counted, not fatal
                out[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
            finally:
                release_ranged_caches()
        elapsed = time.perf_counter() - t0
    finally:
        con._con.close()
    return out, elapsed - checker_s - con.seconds


def run_query(spark, queries, name, sf_dir, tracer: Tracer | None = None,
              parent: int = 0, trace_id: int = 0) -> tuple[float, float]:
    """One op: builder call, then a ``noop`` write; returns (build_s, exec_s)."""
    from lance_namespace_impls_spark.operators.scale_windows import release_ranged_caches

    traced = tracer is not None and parent != 0
    try:
        t0 = time.perf_counter()
        span = tracer.begin("build", parent, trace_id) if traced else 0
        df = queries[name].builder(spark, sf_dir)
        t1 = time.perf_counter()
        if traced:
            tracer.end(span)
            span = tracer.begin("exec", parent, trace_id)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if traced:
            tracer.end(span)
    finally:
        release_ranged_caches()
    return t1 - t0, t2 - t1


def timed_passes(spark, queries, names, seed, seconds, tracer: Tracer, sf_dir) -> dict:
    sc = spark.sparkContext
    rng = random.Random(seed)
    # name -> [(build_s, exec_s, traced)]
    samples: dict[str, list[tuple[float, float, bool]]] = {n: [] for n in names}
    counts = {n: [] for n in names}
    errors: list[str] = []
    workload_span = tracer.begin("workload", None)
    deadline = time.perf_counter() + seconds
    passes = 0
    pass_ops: list[list[float]] = []  # op times of each pass that ran every query
    while passes < MIN_TIMED_PASSES or time.perf_counter() < deadline:
        order = list(names)
        rng.shuffle(order)
        pass_span = tracer.begin(f"pass.{passes}", workload_span, workload_span)
        ops, complete = [], True
        for name in order:
            # In a traced run each query is traced in every other pass, half
            # the queries in each pass: the JVM still warming between passes
            # then biases half the queries' traced/untraced ratios up and half
            # down, and the median ratio is the tracing overhead.
            traced = tracer.enabled and (passes + names.index(name)) % 2 == 1
            group = f"perfbench.{passes}.{name}"
            sc.setJobGroup(group, name)
            q_span = tracer.begin(f"query.{name}", pass_span, workload_span) if traced else 0
            try:
                build_s, exec_s = run_query(spark, queries, name, sf_dir, tracer, q_span, workload_span)
            except Exception as exc:  # counted as a failed op
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                complete = False
                continue
            finally:
                tracer.end(q_span)
            samples[name].append((build_s, exec_s, traced))
            counts[name].append(spark_counts(sc, group))
            ops.append(build_s + exec_s)
        tracer.end(pass_span)
        if complete:
            pass_ops.append(ops)
        passes += 1
    tracer.end(workload_span)
    return {"samples": samples, "counts": counts, "errors": errors, "passes": passes,
            "pass_ops": pass_ops}


class _WrongAnswer:
    """DuckDB connection stand-in whose results lose their last row."""

    def __init__(self, con):
        self._con = con

    def execute(self, sql):
        return _TruncatedResult(self._con.execute(sql))


class _TruncatedResult:
    def __init__(self, res):
        self._res = res
        self.description = res.description

    def fetchall(self):
        return self._res.fetchall()[:-1]

    def df(self):
        return self._res.df().iloc[:-1]


def _selftest(spark, queries, sf_dir) -> bool:
    """Feed ``check_query`` one wrong expected answer: it must fail it."""
    from lance_namespace_impls_spark.plans.oracle import check_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    try:
        name = "q183_tpch_q6_forecast"
        return (check_query(spark, con, name, sf_dir)["ok"]
                and not check_query(spark, _WrongAnswer(con), name, sf_dir)["ok"])
    finally:
        con.close()


def sample_counts(result: dict) -> list[tuple[str, int, float]]:
    """(query or pass, timed executions, median seconds) for the summary."""
    out = [(n, len(s), median([b + e for b, e, _ in s])) for n, s in result["samples"].items()]
    return out + [(f"pass.{i}", len(ops), median(ops)) for i, ops in enumerate(result["pass_ops"])]


def layer_units() -> dict[str, str]:
    """Every per-layer metric query_mix reports, with its unit."""
    units = {f"query.{name}.s": "s" for name in ALL_QUERIES}
    for group in GROUPS:
        units[f"query.{group}.s"] = "s"
    units.update({"query.suite_s": "s", "query.build_s": "s", "query.exec_s": "s"})
    units.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count"})
    units["jvm.peak_rss_mb"] = units["jvm.heap_peak_mb"] = "MB"
    units["trace.overhead_pct"] = "%"
    return units


def metrics(result: dict, trace: bool) -> tuple[dict, int, int]:
    samples = result["samples"]
    per_query = {n: median([b + e for b, e, _ in s]) for n, s in samples.items() if s}
    checks = result["checks"]
    executed = sum(len(s) for s in samples.values())
    attempted = executed + len(result["errors"]) + len(checks)
    failed = len(result["errors"]) + sum(1 for p in checks.values() if p)
    # An op is one query execution.  Like catalog_mix's blocks, each pass
    # (every query once) gives one estimate of each figure, and the run
    # reports the median pass.
    per_pass = result["pass_ops"]
    end_to_end = {
        "setup_s": (result["setup_s"], "s"),
        "py_peak_rss_mb": (result["py_peak_rss_mb"], "MB"),
        "ops_per_s": (median([len(p) / sum(p) for p in per_pass]), "1/s"),
        "op_p50_ms": (median([percentile(p, 50) for p in per_pass]) * 1e3, "ms"),
        "op_p99_ms": (median([percentile(p, 99) for p in per_pass]) * 1e3, "ms"),
    }
    if not trace:
        return end_to_end, attempted, failed
    layer: dict[str, tuple[float, str]] = {}
    for name in ALL_QUERIES:
        layer[f"query.{name}.s"] = (per_query.get(name, 0.0), "s")
    for group, members in GROUPS.items():
        layer[f"query.{group}.s"] = (sum(per_query.get(n, 0.0) for n in members), "s")
    layer["query.suite_s"] = (sum(per_query.values()), "s")
    layer["query.build_s"] = (sum(median([b for b, _, _ in s]) for s in samples.values() if s), "s")
    layer["query.exec_s"] = (sum(median([e for _, e, _ in s]) for s in samples.values() if s), "s")
    for i, key in enumerate(("jobs", "stages", "tasks")):
        # per pass over the list: median count per query, summed
        layer[f"spark.{key}"] = (
            sum(median([c[i] for c in cs]) for cs in result["counts"].values() if cs), "count")
    ratios = []
    for s in samples.values():
        traced = [b + e for b, e, t in s if t]
        plain = [b + e for b, e, t in s if not t]
        if traced and plain:
            ratios.append(median(traced) / median(plain))
    layer["jvm.peak_rss_mb"] = (result["jvm_peak_rss_mb"], "MB")
    layer["jvm.heap_peak_mb"] = (result["heap_peak_mb"], "MB")
    layer["trace.overhead_pct"] = ((median(ratios) - 1.0) * 100.0 if ratios else 0.0, "%")
    return layer, attempted, failed
