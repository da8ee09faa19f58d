"""Benchmark of the BAG-H import and the headline query pass.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bagh_load --seed 1 --seconds 5 --trace 0

Workloads (one process, ``local[nproc]``):

- ``bagh_load``: ``BagHJob.run`` of a seeded GOB snapshot of ``pand``
  (14k rows of polygons) into an empty warehouse directory, in a fresh
  session: a daily batch import as its JVM sees it.
- ``headline_queries``: five warm passes (after three untimed ones)
  over four queries of ``bench.HEADLINE``, each written to the noop
  sink, on seeded star-schema tables.

Inputs are generated from ``--seed`` under ``.bench_work/data`` and
reused for the same seed. Closed loop, one client: operations (an
import, or a pass over the queries) run back to back until
``--seconds`` of them have run, at least one import or five passes.
``cpu_s`` is the median over operations of the CPU time of the JVM,
its Python workers and the driver. After the timed region every output
is checked: import reports and final table sizes against the
generator's expectations, and a seed-chosen sample of queries against
their DuckDB oracles. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A
fuller record, with the trace spans, goes to ``.bench_work/results``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")

# One table, pand: CSV parsing, the polygon geometry UDF, the gates,
# the merge's insert path and the parquet write, in 25 Spark jobs. The
# import is driver-bound (per-job overhead more than rows): on 4 shared
# vCPUs a cold import of pand takes 15-22 s, and one of the three big
# tables (pand, verblijfsobject with its bridge, nummeraanduiding)
# 45-80 s, more than a run can afford: a full measurement is 48 runs
# within 3420 s, and the host's steal time makes a run up to twice as
# slow.
BAGH_TABLES = ["pand"]
# pand is sized as for 20k nummeraanduiding rows, 4% of the reference's
# 500k anchor: 14k pand rows. At four times the rows a cold import took
# 28-31 s, and a run 55 s, under 20% steal.
BAGH_N_NUM = 20_000
STAR_SF = 0.01  # lineitem ~60k rows
N_CHECKED_QUERIES = 2  # oracle checks per run; two seeds cover all four
DRIVER_MEM = "2g"
MAX_TIMED_S = 100.0  # start no further operation after this much time
# untimed passes over the queries in set-up, then timed passes at least.
# The CPU time of a pass keeps falling while the JIT compiles: over 18
# passes on 4 shared vCPUs it read 20-22, 6-7, 5-6, 4.5, 3.8, 3.0-3.3,
# 3.3-3.5, 3.3-3.4, 2.7-2.9 ... 2.0-2.2 s. With one untimed pass and two
# or three timed ones, cpu_s spread 23.5% (IQR/median) over ten runs,
# most of it from the number of passes; five passes take more than the
# run's 5 s, so every run makes the same number. Six untimed and seven
# timed passes made a run 54-91 s long while the host was slow.
HEADLINE_WARMUP_PASSES = 3
HEADLINE_PASSES = 5
# one query per operator family the headline stresses: a plain
# aggregate, dedup, the ANN kernel and fuzzy similarity. On 4 shared
# vCPUs a cold pass over them takes 8-20 s and a warm one 1.2-4 s; a cold
# pass over all 49 takes 40-60 s.
HEADLINE_PICK = (
    "q01_pricing_summary",
    "dedup_prefix_groups",
    "ann_brute_force_topk",
    "record_linkage_fuzzy",
)

# wall time is per-layer (``wall_s``): on a shared 4-vCPU host the
# hypervisor's steal time comes in episodes of a minute or more and made
# it spread 18-52% (IQR/median) over ten runs, against 11-20% for the
# CPU seconds spent per operation
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}


def headline() -> list[str]:
    """``HEADLINE_PICK`` in ``bench.HEADLINE`` order; fails if the
    headline drops one of them."""
    import bench

    picked = [q for q in bench.HEADLINE if q in HEADLINE_PICK]
    assert len(picked) == len(HEADLINE_PICK), HEADLINE_PICK
    return picked


@contextlib.contextmanager
def _no_span(*_args, **_kwargs):
    yield None


def per_layer_units(headline: list[str]) -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    u = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "sources.read_s": "s",
        "sources.read_jobs": "count",
        "sources.rows_read": "count",
        "functions.coerce_wkt_rows_per_s": "1/s",
        "operators.merge.execute_merge_s": "s",
        "operators.merge.jobs": "count",
        "operators.merge.changed_frac": "ratio",
    }
    for t in BAGH_TABLES:
        u[f"plans.run_table_s.{t}"] = "s"
        u[f"plans.run_table_jobs.{t}"] = "count"
    u.update({
        "plans.run_table_self_s": "s",
        "plans.Warehouse.write_s": "s",
        "plans.Warehouse.write_bytes": "B",
        "plans.jobs": "count",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "queries.plan_s": "s",
        "queries.exec_s": "s",
    })
    for q in headline:
        u[f"query.{q}_s"] = "s"
    # no tail percentile: four samples leave fewer than ten beyond any
    # percentile
    u["query_p50_s"] = "s"
    u.update({
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.jvm_gc_s": "s",
        "spark.cpu_util": "ratio",
        "spark.shuffle_write_bytes": "B",
        "spark.shuffle_read_bytes": "B",
        "spark.spill_bytes": "B",
        "spark.max_task_skew": "ratio",
        "host.loadavg_1m_start": "load",
        "host.loadavg_1m_end": "load",
        "host.contaminated": "flag",
        "host.steal_frac": "ratio",
        # per-layer, not end-to-end: JVM heap growth makes the peak
        # spread 18-24% (IQR/median) over ten runs
        "host.peak_rss_mb": "MB",
        "rows_per_s": "1/s",
        "bytes_written_per_input_byte": "ratio",
        "error_rate": "ratio",
        "wall_s": "s",
        "trace.overhead_s": "s",
    })
    return u


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_ticks() -> list[int]:
    """The host's CPU time counters, summed over CPUs: user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU time that the hypervisor gave to other
    guests between two ``host_ticks`` readings."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant
    (the JVM forks the Python UDF workers)."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        ticks[int(d)] = int(f[11]) + int(f[12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _inputs(kind: str, seed: int, make) -> str:
    """Generate once per (kind, seed) and reuse: the directory appears
    only when complete."""
    final = os.path.join(WORK, "data", f"{kind}-seed{seed}")
    if not os.path.isdir(final):
        tmp = tempfile.mkdtemp(prefix=f"{kind}-", dir=os.path.join(WORK, "data"))
        make(tmp)
        os.replace(tmp, final)
    return final


class BaghLoad:
    def __init__(self, seed: int):
        from gob_gen import generate

        self.data = _inputs(
            f"gob-n{BAGH_N_NUM}-{'-'.join(BAGH_TABLES)}", seed,
            # the replay snapshot is not imported here
            lambda d: generate(d, seed, BAGH_N_NUM, tables=BAGH_TABLES, replay=False),
        )
        with open(os.path.join(self.data, "expected.json")) as fh:
            self.exp = json.load(fh)
        self.csv_rows = self.exp["load_csv_rows_by_table"]
        # each table task, and the bridge when verblijfsobject is imported
        self.outputs = BAGH_TABLES + (
            ["verblijfsobjectpandrelatie"] if "verblijfsobject" in BAGH_TABLES else []
        )
        self.tasks = len(self.outputs)
        self.min_ops = 1
        self.runs: list[tuple[str, list | None, str | None]] = []

    def op(self, spark, i: int) -> None:
        from dso_import_spark.plans.bagh_job import BagHJob

        wh = os.path.join(WORK, "wh", f"op{i}")
        shutil.rmtree(wh, ignore_errors=True)
        try:
            reports = BagHJob(spark, os.path.join(self.data, "v1"), wh).run(
                tables=BAGH_TABLES
            )
            self.runs.append((wh, reports, None))
        except Exception as exc:  # noqa: BLE001 — counted as failed tasks
            self.runs.append((wh, None, repr(exc)))

    def check(self, spark) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every import that ran."""
        from dataclasses import asdict

        exp = self.exp["load"]
        final = self.exp["load_final_rows"]
        failed, problems = 0, []
        for wh, reports, err in self.runs:
            if reports is None:
                failed += self.tasks
                problems.append(f"import raised {err}")
                continue
            got = {r.table: asdict(r) for r in reports}
            for t in self.outputs:
                bad = []
                if t in exp:
                    rep = got.get(t)
                    bad = [k for k in exp[t] if rep is None or rep[k] != exp[t][k]]
                n = spark.read.parquet(os.path.join(wh, t)).count()
                if n != final[t]:
                    bad.append(f"rows {n} != {final[t]}")
                if bad:
                    failed += 1
                    problems.append(f"{t}: {bad}")
        return self.tasks * len(self.runs), failed, problems


class HeadlineQueries:
    def __init__(self, seed: int):
        from star_gen import generate

        self.headline = headline()
        self.seed = seed
        self.data = _inputs(f"star-sf{STAR_SF}", seed, lambda d: generate(d, seed, STAR_SF))
        self.per_query: dict[str, list[float]] = {q: [] for q in self.headline}
        self.errors: dict[str, str] = {}
        # cells matched up to a last-place rounding tie: (query, spark, oracle)
        self.ties: list[tuple[str, str, str]] = []
        self.passes = 0
        self.min_ops = HEADLINE_PASSES
        self.tracer = None

    def warmup(self, spark) -> None:
        """Untimed passes in set-up, until the JIT has compiled most of
        what the passes run."""
        tracer, self.tracer = self.tracer, None
        for i in range(HEADLINE_WARMUP_PASSES):
            self.op(spark, -1 - i)
        self.tracer = tracer
        self.per_query = {q: [] for q in self.headline}
        self.passes = 0

    def op(self, spark, i: int) -> None:
        from dso_import_spark.queries import spark_queries

        qs = spark_queries()
        tr = self.tracer
        span = tr.span if tr else _no_span
        for q in self.headline:
            t = time.perf_counter()
            try:
                with span("query", query=q):
                    with span("queries.build"):
                        df = qs[q](spark, self.data)
                    if tr:
                        with span("queries.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 — counted as a failed query
                self.errors[q] = repr(exc)
            self.per_query[q].append(time.perf_counter() - t)
        self.passes += 1

    def checked(self) -> list[str]:
        n = len(self.headline)
        start = (self.seed * N_CHECKED_QUERIES) % n
        return [self.headline[(start + k) % n] for k in range(N_CHECKED_QUERIES)]

    def check(self, spark) -> tuple[int, int, list[str]]:
        import duckdb

        from dso_import_spark.queries import REGISTRY
        from dso_import_spark.sources.registry import FIXTURE_TABLES
        from tests.test_queries_vs_duckdb import _norm_rows

        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        bad = set(self.errors)
        problems = [f"{q}: raised {e}" for q, e in self.errors.items()]
        for q in self.checked():
            spec = REGISTRY[q]
            if q in bad or not spec.oracle:
                continue
            sdf = spec.spark(spark, self.data)
            s_cols = [c.lower() for c in sdf.columns]
            s = _norm_rows(s_cols, [tuple(r) for r in sdf.collect()])
            res = con.sql(spec.oracle)
            d_cols = [c.lower() for c in res.columns]
            d = _norm_rows(d_cols, res.fetchall())
            if s == d:
                continue
            if sorted(s_cols) == sorted(d_cols) and len(s) == len(d):
                scale = [max(map(_places, col)) for col in zip(*s, *d)]
                diff = [(a, b, p) for rs, rd in zip(s, d) for a, b, p in zip(rs, rd, scale)
                        if a != b]
                if all(_last_place_tie(a, b, p) for a, b, p in diff):
                    self.ties += [(q, a, b) for a, b, _ in diff]
                    continue
            bad.add(q)
            problems.append(f"{q}: differs from its DuckDB oracle")
        con.close()
        return len(self.headline) * self.passes, len(bad) * self.passes, problems


def _places(cell: str) -> int:
    """Decimal places of a plain decimal cell, else 0."""
    whole, _, frac = cell.partition(".")
    return len(frac) if whole.lstrip("-").isdigit() and frac.isdigit() else 0


def _last_place_tie(a: str, b: str, places: int) -> bool:
    """Two decimal cells of a column whose cells have at most
    ``places`` decimals, with the same integer part and one unit apart
    in that last place: both engines round a floating sum that sits on
    a decimal tie (x.xx5), and summation order decides which way.
    Seeded money columns with two decimals make such ties common (q03,
    q05 revenue sums; corpus_pipeline_stats quality scores). The
    normalisation writes floats with ``%.9g``, which drops trailing
    zeros, so each fraction is padded back to ``places`` first. A tie
    that carries into the integer part is a mismatch."""
    ia, _, fa = a.partition(".")
    ib, _, fb = b.partition(".")
    if ia != ib or not ia.lstrip("-").isdigit() or not places:
        return False
    fa, fb = fa.ljust(places, "0"), fb.ljust(places, "0")
    if len(fa) != places or len(fb) != places or not (fa + fb).isdigit():
        return False
    return abs(int(fa) - int(fb)) == 1


def _first_job(spark) -> None:
    """One aggregate job: the scheduler's first-job start-up stays out
    of the timed region."""
    from pyspark.sql import functions as F

    spark.range(0, 100_000, numPartitions=4).agg(F.sum("id")).collect()


def _install_bagh_tracer(tr, wl: BaghLoad) -> None:
    from dso_import_spark.plans import bagh_job
    from dso_import_spark.sources import csv as csv_source

    def on_read(span, args, _df):
        table = next((t for t in wl.csv_rows if f"_{t}_" in os.path.basename(args[1])), None)
        span.extra["rows"] = wl.csv_rows.get(table, 0)

    def on_table(span, args, _report):
        span.extra["table"] = args[2].name

    def on_write(span, args, _):
        span.extra["bytes"] = dir_bytes(args[0].path(args[2]))

    tr.wrap(csv_source, "read_gob_csv_audited", "sources.read", after=on_read)
    tr.wrap(bagh_job, "run_table", "plans.run_table", after=on_table)
    tr.wrap(bagh_job, "execute_merge", "operators.merge")
    tr.wrap(bagh_job.Warehouse, "write", "plans.Warehouse.write", after=on_write)


def _coerce_wkt_probe(spark, wl: BaghLoad) -> float:
    """Rows per second of coerce_wkt over the imported geometries,
    written to the noop sink."""
    from pyspark.sql import functions as F

    from dso_import_spark.functions.geometry import coerce_wkt
    from dso_import_spark.sources.csv import read_gob_csv
    from gob_gen import TABLES, csv_filename

    rows, t = 0, time.perf_counter()
    for table in BAGH_TABLES:
        geotype = TABLES[table][1]
        if geotype is None:
            continue
        path = os.path.join(wl.data, "v1", csv_filename(table))
        read_gob_csv(spark, path).select(coerce_wkt(F.col("geometrie"), geotype)).write.mode(
            "overwrite"
        ).format("noop").save()
        rows += wl.csv_rows[table]
    return rows / (time.perf_counter() - t)


def _layer_metrics(tr, wl, walls, wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics from the spans; 0 where a layer is unused."""
    m: dict[str, float] = {}
    m["sources.read_s"] = tr.seconds("sources.read")
    m["sources.read_jobs"] = tr.work("sources.read").jobs
    m["sources.rows_read"] = sum(s.extra.get("rows", 0) for s in tr.named("sources.read"))
    m["operators.merge.execute_merge_s"] = tr.seconds("operators.merge")
    m["operators.merge.jobs"] = tr.work("operators.merge").jobs
    tables = tr.named("plans.run_table")
    for t in BAGH_TABLES:
        spans = [s for s in tables if s.extra.get("table") == t]
        m[f"plans.run_table_s.{t}"] = sum(s.end - s.start for s in spans)
        m[f"plans.run_table_jobs.{t}"] = sum(s.work.jobs for s in spans)
    table_ids = {tr.spans.index(s) for s in tables}
    children = sum(
        s.end - s.start for s in tr.spans
        if s.parent in table_ids and s.name in ("operators.merge", "plans.Warehouse.write")
    )
    m["plans.run_table_self_s"] = sum(s.end - s.start for s in tables) - children
    m["plans.Warehouse.write_s"] = tr.seconds("plans.Warehouse.write")
    m["plans.Warehouse.write_bytes"] = sum(
        s.extra.get("bytes", 0) for s in tr.named("plans.Warehouse.write")
    )
    m["plans.jobs"] = tr.work("op").jobs if isinstance(wl, BaghLoad) else 0
    for phase in ("build", "plan", "exec"):
        m[f"queries.{phase}_s"] = tr.seconds(f"queries.{phase}")
    m["queries.build_jobs"] = tr.work("queries.build").jobs
    op = tr.work("op")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = getattr(op, k)
    for k in ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "max_task_skew"):
        m[f"spark.{k}"] = getattr(op, k)
    m["spark.cpu_util"] = op.executor_cpu_s / (sum(walls) * cores)
    m["wall_s"] = wall_s
    return m


def run(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    load_start = loadavg_1m()
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]

    t = time.perf_counter()
    wl = BaghLoad(args.seed) if args.workload == "bagh_load" else HeadlineQueries(args.seed)
    gen_s = time.perf_counter() - t

    from dso_import_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp and perf-data files out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    t = time.perf_counter()
    _first_job(spark)
    if isinstance(wl, HeadlineQueries):
        wl.warmup(spark)
    warmup_s = time.perf_counter() - t

    tr = None
    if args.trace:
        from spans import SparkStore, Tracer

        tr = Tracer(f"{args.workload}-{args.seed}", SparkStore(spark))
        if isinstance(wl, BaghLoad):
            _install_bagh_tracer(tr, wl)
        else:
            wl.tracer = tr

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ticks_start = host_ticks()
    walls: list[float] = []
    cpus: list[float] = []
    setup_s = time.perf_counter() - T0 - gen_s
    while len(walls) < wl.min_ops or (
        sum(walls) < args.seconds and time.perf_counter() - T0 < MAX_TIMED_S
    ):
        c, t = tree_cpu_s(jvm_pid) + sum(os.times()[:2]), time.perf_counter()
        with tr.span("op") if tr else _no_span():
            wl.op(spark, len(walls))
        walls.append(time.perf_counter() - t)
        cpus.append(tree_cpu_s(jvm_pid) + sum(os.times()[:2]) - c)
    if isinstance(wl, HeadlineQueries):
        wall_s = sum(statistics.median(v) for v in wl.per_query.values())
    else:
        wall_s = statistics.median(walls)
    cpu_s = statistics.median(cpus)
    steal = steal_frac(ticks_start, host_ticks())

    if tr:
        tr.restore()
    out_bytes = [dir_bytes(w) for w, _, _ in getattr(wl, "runs", [])]
    t = time.perf_counter()
    attempted, failed, problems = wl.check(spark)
    check_s = time.perf_counter() - t
    probe = _coerce_wkt_probe(spark, wl) if tr and isinstance(wl, BaghLoad) else 0.0
    shutil.rmtree(os.path.join(WORK, "wh"), ignore_errors=True)

    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    load_end = loadavg_1m()
    contaminated = max(load_start, load_end) > nproc

    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "gen_s": gen_s, "check_s": check_s, "walls": walls, "cpus": cpus,
        "wall_s": wall_s,
        "problems": problems, "oracle_ties": getattr(wl, "ties", []),
        "per_query": getattr(wl, "per_query", {}),
        "contaminated": contaminated, "steal_frac": steal,
    }
    if not args.trace:
        metrics = {"setup_s": setup_s, "cpu_s": cpu_s}
        units = E2E_UNITS
    else:
        units = per_layer_units(headline())
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(_layer_metrics(tr, wl, walls, wall_s, nproc))
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.warmup_s"] = warmup_s
        metrics["functions.coerce_wkt_rows_per_s"] = probe
        metrics["trace.overhead_s"] = tr.overhead_s
        if isinstance(wl, BaghLoad):
            exp = wl.exp["load"]
            staged = sum(r["staged_rows"] for r in exp.values())
            metrics["operators.merge.changed_frac"] = sum(
                r["inserted"] + r["updated"] for r in exp.values()
            ) / staged
            metrics["rows_per_s"] = wl.exp["load_csv_rows"] / wall_s
            metrics["bytes_written_per_input_byte"] = (
                statistics.median(out_bytes) / wl.exp["load_csv_bytes"]
            )
        else:
            samples = [statistics.median(v) for v in wl.per_query.values()]
            metrics["query_p50_s"] = statistics.median(samples)
            for q, v in wl.per_query.items():
                metrics[f"query.{q}_s"] = statistics.median(v)
        metrics["error_rate"] = failed / attempted
        metrics["host.loadavg_1m_start"] = load_start
        metrics["host.loadavg_1m_end"] = load_end
        metrics["host.contaminated"] = float(contaminated)
        metrics["host.steal_frac"] = steal
        metrics["host.peak_rss_mb"] = peak_rss_mb
        result["spans"] = tr.as_json()
        result["outside_work"] = tr.outside.__dict__
    result["summary"] = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    _stop(spark)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    return result


def _stop(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["bagh_load", "headline_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    for need in ("dso_import_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout root",
                  file=sys.stderr)
            return 2
    result = run(args)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    s = result["summary"]
    print(
        f"perfbench: {args.workload} seed={args.seed} wall_s={result['wall_s']:.3f} "
        f"walls={result['walls']} "
        f"contaminated={result['contaminated']} steal={result['steal_frac']:.3f} problems={result['problems'][:5]} "
        f"oracle_ties={len(result['oracle_ties'])} {result['oracle_ties'][:5]}"
    )
    print(json.dumps(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
