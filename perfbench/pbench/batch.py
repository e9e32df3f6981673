"""The ``batch`` workload: pinned SQL queries and curation operators from
the program's registry, run in a closed loop with one client.

Each operation builds the entry's DataFrame (``Query.spark_fn``) and
collects it to the client (``toPandas``); the collected rows are checked
against the entry's DuckDB oracle after the timed region. Collecting the
DataFrame itself, rather than writing it to a sink, keeps the executed
QueryExecution on the DataFrame, which is where Catalyst phases and the
final adaptive plan's SQL metrics are read from.
"""

from __future__ import annotations

import random
import time

from . import env, probes
from .stats import Tracer, median, supported_pctl

#: SQL entries (queries layer): NEXMark, TPC-H, YSB, window functions.
#: The registry has more; a run's wall is set-up (Spark start, catalog
#: registration, one cold pass at 1-5 s per entry) plus the measured
#: passes, so the list is kept to one entry per kind of plan.
SQL_ENTRIES = [
    "nexmark_q5",           # hopping window, max per window
    "tpch_q1",              # scan and aggregate
    "tpch_q21",             # four-way join, semi and anti joins
    "ysb_campaign_views",   # join and tumbling window
]
#: Curation operators (operators layer).
OP_ENTRIES = [
    "knn_classify",         # similarity: mapInArrow NumPy scoring
    "kmeans_assign",        # clustering: interpreted aggregate(zip_with) fold
]
ENTRIES = SQL_ENTRIES + OP_ENTRIES

#: Rows per randgen table: half the row counts of the sf0.1 fixtures
#: (300k lineitem rows). On 4 vCPUs the per-entry median warm wall was
#: 0.48 s at these counts, 0.65 s at sf0.1's full counts and 0.38 s at
#: randgen's test-suite defaults (3,000 lineitem rows), where every entry
#: is Spark's fixed per-query cost; the full counts would push a run past
#: the benchmark's time budget.
TABLE_ROWS = {
    "N_CUSTOMER": 7_500, "N_SUPPLIER": 500, "N_PART": 10_000, "N_ORDERS": 75_000,
    "N_LINEITEM": 300_000, "N_EVENTS": 50_000, "N_DOCS": 2_500, "N_EMB": 1_000,
}
#: Measured passes in an untraced run, at least (and for at least
#: --seconds); pass_s is their median. The cold pass is set-up; the JIT
#: keeps compiling past it, so the first measured pass costs ~40% more
#: CPU time and ~25% more wall than the next ones, and the median of
#: three leaves it out.
WARM_PASSES = 3
#: A traced run measures this many untraced passes and as many traced
#: ones, in the order untraced, traced, traced, untraced, and reports the
#: tracing overhead as traced over untraced median.
TRACED_RUN_PASSES = 2


class _MatviewProbe:
    """Wraps catalog.session_matview from outside while installed: counts
    builds (the catalog's sequence number moved) and hits, and spans each
    build."""

    def __init__(self, tracer: Tracer):
        from squirtle_spark import catalog

        self.catalog = catalog
        self.orig = catalog.session_matview
        self.builds = self.hits = 0
        self.build_s = 0.0

        def wrapped(spark, name, sf_dir, build_sql, distribute_by=None):
            seq = catalog._MATVIEW_SEQ
            t = time.perf_counter()
            with tracer.span("catalog.session_matview", matview=name):
                view = self.orig(spark, name, sf_dir, build_sql, distribute_by)
            if catalog._MATVIEW_SEQ != seq:
                self.builds += 1
                self.build_s += time.perf_counter() - t
            else:
                self.hits += 1
            return view

        self.wrapped = wrapped

    def install(self) -> None:
        self.catalog.session_matview = self.wrapped

    def restore(self) -> None:
        self.catalog.session_matview = self.orig


def _generate(data: str, seed: int) -> None:
    """randgen's tables at TABLE_ROWS (generate reads the module's row
    counts when it runs)."""
    from tools import randgen

    saved = {n: getattr(randgen, n) for n in TABLE_ROWS}
    try:
        for n, rows in TABLE_ROWS.items():
            setattr(randgen, n, rows)
        randgen.generate(data, seed)
    finally:
        for n, rows in saved.items():
            setattr(randgen, n, rows)


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    work = env.WorkDir("batch", seed)
    k = env.cores()
    tracer = Tracer(f"batch-{seed}-{int(time.time())}", trace)
    layer: dict[str, float] = {}
    try:
        data = work.sub("data")
        t = time.perf_counter()
        with tracer.span("bench.input_gen"):
            _generate(data, seed)
        input_gen_s = time.perf_counter() - t
        load0 = env.host_load()

        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = env.start_spark(k, work)
        layer["session.start_s"] = time.perf_counter() - t
        try:
            return _run_session(spark, data, seed, seconds, trace, tracer,
                                layer, t_start, k, load0, input_gen_s)
        finally:
            env.stop_spark(spark)
    finally:
        work.close()


def _run_session(spark, data, seed, seconds, trace, tracer, layer,
                 t_start, k, load0, input_gen_s) -> dict:
    from squirtle_spark import catalog, registry

    t = time.perf_counter()
    with tracer.span("registry.load_all"):
        queries = registry.load_all()
    layer["registry.load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("catalog.register_all"):
        catalog.register_all(spark, data)
    layer["catalog.register_s"] = time.perf_counter() - t
    mv = _MatviewProbe(tracer) if trace else None
    if mv:
        mv.install()

    rng = random.Random(seed)
    results: list[tuple[str, object]] = []  # (entry, pandas frame or exception)
    failed_ops = 0

    def one_pass(pass_no: int, traced: bool, collect_plan: bool) -> tuple[float, dict[str, float], dict]:
        """One pass over every entry in a seeded order. With traced=False
        the pass makes no tracing call at all."""
        nonlocal failed_ops
        order = ENTRIES[:]
        rng.shuffle(order)
        walls: dict[str, float] = {}
        plan: dict[str, float] = {}
        tracer.enabled = traced
        t_pass = time.perf_counter()
        with tracer.span("pass", pass_no=pass_no):
            for name in order:
                q = queries[name]
                if traced:
                    spark.sparkContext.setJobGroup(f"p{pass_no}-{name}", name)
                with tracer.span("op", entry=name):
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("queries.spark_fn"):
                            df = q.spark_fn(spark, data)
                        t_built = time.perf_counter()
                        with tracer.span("exec.collect"):
                            pdf = df.toPandas()
                    except Exception as exc:  # a failed operation is counted, the loop goes on
                        failed_ops += 1
                        results.append((name, exc))
                        env.log(f"{name} failed: {exc!r}"[:500])
                        continue
                    walls[name] = time.perf_counter() - t0
                    results.append((name, pdf))
                    if traced:
                        with tracer.span("bench.plan_probe"):
                            _probe_plan(spark, df, plan, t_built - t0, f"p{pass_no}-{name}", collect_plan)
        wall = time.perf_counter() - t_pass
        tracer.enabled = trace
        return wall, walls, plan

    # set-up: the cold pass (matview and index builds, Python workers)
    first_pass_s, first_walls, _ = one_pass(0, trace, collect_plan=False)
    layer["cold.first_pass_s"] = first_pass_s
    setup_s = time.perf_counter() - t_start

    # measured passes; a traced run interleaves untraced and traced ones
    t_timed = time.perf_counter()
    untraced: list[float] = []
    traced_walls: list[float] = []
    samples: list[float] = []
    plans: list[dict] = []
    steady_walls: list[dict] = []
    pass_no = 0
    need = TRACED_RUN_PASSES if trace else WARM_PASSES
    while (len(untraced) < need or (trace and len(traced_walls) < need)
           or time.perf_counter() - t_timed < seconds):
        pass_no += 1
        traced = trace and pass_no % 4 in (2, 3)  # U T T U: a steady JIT ramp cancels
        if mv and traced:
            mv.install()
        elif mv:
            mv.restore()
        wall, walls, plan = one_pass(pass_no, traced, collect_plan=traced and not plans)
        (traced_walls if traced else untraced).append(wall)
        steady_walls.append(walls)
        samples.extend(walls.values())
        if traced:
            plans.append(plan)
    timed_s = time.perf_counter() - t_timed
    if mv:
        mv.restore()

    # correctness, outside the timed region
    from squirtle_spark import oracle

    t = time.perf_counter()
    expected = {}
    for name in ENTRIES:
        q = queries[name]
        expected[name] = oracle.run_oracle(q.oracle, data) if q.oracle else None
    failed_checks = 0
    mismatches = []
    checked: dict[str, list] = {}  # entry -> [(frame, ok, msg)] already compared
    for name, got in results:
        if isinstance(got, Exception):
            continue
        # a frame equal to one already compared gets the same verdict
        seen = next((c for c in checked.get(name, []) if got.equals(c[0])), None)
        if seen is not None:
            _, ok, msg = seen
        elif expected[name] is None:
            ok = len(got) > 0
            msg = f"{name}: no rows"
        else:
            res = oracle.compare_frames(name, got, expected[name])
            ok, msg = res.ok, res.message()
        if seen is None:
            checked.setdefault(name, []).append((got, ok, msg))
        if not ok:
            failed_checks += 1
            mismatches.append(msg[:500])
    check_s = time.perf_counter() - t
    for msg in mismatches[:5]:
        env.log(msg)

    attempted = len(results)
    failed = failed_ops + failed_checks
    pass_s = median(untraced)
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (pass_s, "s")}
    latency = {f"latency.p{int(p * 100)}_s": supported_pctl(samples, p) for p in (0.5, 0.75, 0.9)}
    if trace:
        # a percentile with fewer than ten samples above it reads 0
        layer.update({n: v or 0.0 for n, v in latency.items()})
        layer["proc.heap_retained_mb"] = env.heap_retained_mb(spark)
        for key in ("plan.build_s", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms"):
            layer[key] = median([p.get(key, 0.0) for p in plans])
        for key, val in plans[0].items():
            if key.startswith(("exec.", "py.")):
                layer[key] = val
        layer["catalog.matview_builds"] = mv.builds
        layer["catalog.matview_build_s"] = mv.build_s
        total = mv.builds + mv.hits
        layer["catalog.matview_hit_ratio"] = mv.hits / total if total else 0.0
        layer["bench.trace_overhead_pct"] = 100.0 * (median(traced_walls) / pass_s - 1.0)
        layer["bench.span_gap_pct"] = _span_gap_pct(tracer)
        layer["proc.peak_rss_mb"] = env.peak_rss_mb(spark)
    record_extra = {
        "entries": ENTRIES,
        "table_rows": TABLE_ROWS,
        "input_gen_s": input_gen_s,
        "first_pass_walls_s": first_walls,
        "steady_walls_s": {n: [p_.get(n) for p_ in steady_walls] for n in ENTRIES},
        "passes": len(untraced),
        "pass_walls_s": untraced,
        "traced_pass_walls_s": traced_walls,
        "latency_samples": len(samples),
        "latency_s": latency,
        "timed_s": timed_s,
        "check_s": check_s,
        "mismatches": mismatches,
    }
    stamp = env.stamp(spark, workload="batch", seed=seed, k=k, load_at_start=load0,
                      extra={"inputs_sha256": env.digest_tree(data)})
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "stamp": stamp,
        "detail": record_extra,
        "tracer": tracer,
    }


def _probe_plan(spark, df, plan: dict, build_s: float, group: str, collect_plan: bool) -> None:
    """Add one executed entry's plan-layer figures to the pass's totals."""
    plan["plan.build_s"] = plan.get("plan.build_s", 0.0) + build_s
    for ph, ms in probes.phases_ms(df).items():
        key = f"plan.{ph}_ms"
        plan[key] = plan.get(key, 0.0) + ms
    if collect_plan:
        for m, v in probes.plan_metrics(df).items():
            plan[m] = max(plan.get(m, 0.0), v) if m == "exec.peak_mem_bytes" else plan.get(m, 0.0) + v
        stages, tasks = probes.job_counts(spark, group)
        plan["exec.stages"] = plan.get("exec.stages", 0) + stages
        plan["exec.tasks"] = plan.get("exec.tasks", 0) + tasks


def _span_gap_pct(tracer: Tracer) -> float:
    """Median over measured traced passes of (pass wall - sum of its op
    spans) / pass wall."""
    spans = tracer.spans
    ops_by_pass: dict[int, float] = {}
    for sp in spans:
        if sp["name"] == "op" and sp["parent"] is not None:
            ops_by_pass[sp["parent"]] = ops_by_pass.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    gaps = [
        100.0 * (sp["end"] - sp["start"] - ops_by_pass.get(sp["id"], 0.0)) / (sp["end"] - sp["start"])
        for sp in spans
        if sp["name"] == "pass" and sp["pass_no"] > 0
    ]
    return median(gaps)
