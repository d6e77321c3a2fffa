"""The osmspark benchmark: runs one workload against the engine from outside.

    python3 perfbench/run.py --workload osm_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.bench_work/`` (removed at exit); the city ``sql_interactive``
reads is built once per checkout into ``.bench_build/``; reports go to
``.bench_out/``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("osm_ingest", "sql_interactive")

# Input sizes. The ingest export is ~12.7 MB; an ingest's time hardly
# grows from 12,000 to 96,000 nodes (see README), so a bigger export
# would only make generation slower.
INGEST_NODES = 48_000
SQL_NODES = 6_000
STAGED_CITY_SEED = 0
TABLES_SF = 0.01

# Run hygiene: a JVM heap well inside physical RAM (the engine's own
# default is 16g), local parallelism = usable cores, and fixed scratch
# directories inside the checkout.
DRIVER_MEMORY = "2g"

QUERY_ORDER_SEED = 0
REGISTRY_QUERIES = (
    "pricing_summary", "shipping_priority", "supplier_nation_volume", "region_rollup",
    "top_contributors", "phone_canonicalization", "user_sessions",
    "event_type_tumbling_5min", "customer_rfm_segments", "keyword_search_topk",
    "top_words", "nation_profit_rollup",
)

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s"}
PLAN_MODULES = (
    "osm_exploration", "audits", "exploration", "join_queries", "cleaning_queries",
    "window_queries", "text_queries", "tpch_shapes",
)
PER_LAYER = {
    "session.start_s": "s",
    "sources.osm_split.s": "s", "sources.osm_split.mb_per_s": "MB/s",
    "sources.osm_split.shards": "count",
    "sources.osm_xml.parse_s": "s", "sources.osm_xml.tasks": "count",
    "sources.osm_xml.core_busy_frac": "frac",
    "operators.official_streets.s": "s", "operators.shape.s": "s",
    "operators.cleaning.s": "s", "operators.street_repair.s": "s",
    "operators.cleaning.phone_fix_ratio": "frac", "operators.street_repair.fix_ratio": "frac",
    "operators.pipeline.stages": "count", "operators.pipeline.tasks": "count",
    "operators.pipeline.core_busy_frac": "frac", "operators.pipeline.gc_s": "s",
    "operators.pipeline.shuffle_write_mb": "MB", "operators.pipeline.spill_mb": "MB",
    "operators.pipeline.write_parquet_s": "s", "operators.pipeline.output_mb": "MB",
    "plans.build_s": "s", "plans.plan_s": "s", "plans.exec_s": "s",
    "plans.jobs_per_query": "count", "plans.stages_per_query": "count",
    **{f"plans.{m}.s": "s" for m in PLAN_MODULES},
    "spark.failed_tasks": "count",
    # demoted from end-to-end: the JVM's heap growth makes it vary by
    # more than a tenth from run to run
    "peak_rss_mb": "MB",
    "failed_frac": "frac",
    "trace.overhead_frac": "frac",
    "trace.unattributed_frac": "frac",
}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Environment for the engine's session; set before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the JVM's temp files and perf data inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def process_tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) over a process and its
    descendants: the Python process plus the JVM it launched."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def split_export(osm: str, shard_dir: str, cores: int) -> int:
    """Split an export into about two shards per core, so the XML scan
    can use every core. Returns the shard count."""
    from udacity_data_wrangling_osm_case_study_spark.sources import osm_split

    target = -(-os.path.getsize(osm) // (2 * cores))
    return len(osm_split.split_osm_xml(osm, shard_dir, target_bytes=target))


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def staged_city(root: str) -> str:
    """The city ``sql_interactive`` reads, built once per checkout under
    ``.bench_build/``: the export of seed ``STAGED_CITY_SEED``, its
    shards, the engine's parquet of it and the planted truth. Interactive
    SQL runs over data an ingest wrote earlier, so its sessions do not
    pay for the ingest. Built in a process of its own, so the measured
    session starts as cold in the first run as in every other."""
    final = os.path.join(root, ".bench_build", "sql_city")
    if not os.path.exists(os.path.join(final, "truth.json")):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), "--stage-city", tmp],
                       cwd=root, check=True)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return final


def stage_city(out: str) -> None:
    """Write the staged city into ``out`` (see ``staged_city``)."""
    import checks
    from udacity_data_wrangling_osm_case_study_spark import get_spark
    from udacity_data_wrangling_osm_case_study_spark.operators import pipeline

    work = os.path.join(out, "work")
    configure_env(work)
    osm, psi = os.path.join(out, "city.osm"), os.path.join(out, "streets.xml")
    truth = gen_osm.generate(STAGED_CITY_SEED, osm, psi, nodes=SQL_NODES)
    shards, parquet = os.path.join(out, "shards"), os.path.join(out, "parquet")
    split_export(osm, shards, usable_cores())
    spark = get_spark(app_name="perfbench-stage")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pipeline.write_parquet(pipeline.build_tables(spark, f"{shards}/*.osm", psi), parquet)
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    got = checks.table_counts(parquet)
    if got != truth.tables:
        raise RuntimeError(f"staged city: table counts {got} != {truth.tables}")
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth.to_dict(), fh)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``since``: a slow run with a high share was slowed by its host."""
    steal, total = cpu_jiffies()
    return (steal - since[0]) / max(1, total - since[1])


def dir_mb(path: str) -> float:
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total / 1e6


class Run:
    """One benchmark run: inputs, session, measured operations, checks."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.cores = usable_cores()
        self.tracer = Tracer(enabled=bool(args.trace), cores=self.cores)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "cores": self.cores}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.spark = None

    # ----------------------------------------------------------- helpers
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, ok: bool, what: str, problems: list[str] | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(problems or ['wrong result'])}")

    def start_session(self):
        from udacity_data_wrangling_osm_case_study_spark import get_spark

        with self.tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{self.args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(spark)
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def ingest(self, osm: str, psi: str, tag: str) -> tuple[float, str, str]:
        """One ingest operation: split -> build_tables -> write_parquet.
        Returns (seconds, shard_dir, parquet_dir)."""
        from udacity_data_wrangling_osm_case_study_spark.operators import pipeline

        shards, out = self.path("shards", tag), self.path("out", tag)
        t0 = time.perf_counter()
        with self.tracer.span("osm_ingest.op"):
            with self.tracer.span("sources.osm_split"):
                n_shards = split_export(osm, shards, self.cores)
            with self.tracer.span("operators.pipeline"):
                tables = pipeline.build_tables(self.spark, f"{shards}/*.osm", psi)
                with self.tracer.span("operators.pipeline.write_parquet"):
                    pipeline.write_parquet(tables, out)
        dt = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.report["shards"] = n_shards
        return dt, shards, out

    # --------------------------------------------------------- workloads
    def osm_ingest(self) -> dict:
        import checks

        osm, psi = self.path("in", "city.osm"), self.path("in", "streets.xml")
        os.makedirs(self.path("in"), exist_ok=True)
        truth = gen_osm.generate(self.args.seed, osm, psi, nodes=INGEST_NODES)
        in_mb = os.path.getsize(osm) / 1e6
        self.report["input"] = {"export_mb": in_mb, "elements": truth.elements,
                                "relations_skipped": truth.relations}

        t0 = time.perf_counter()
        self.start_session()
        start_s = time.perf_counter() - t0
        with self.tracer.paused():
            self.ingest(osm, psi, "warmup")  # warm-up: not an operation
        self.cleanup("shards", "out")
        setup_s = time.perf_counter() - t0

        times: list[float] = []
        jiffies = cpu_jiffies()
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while not times or time.perf_counter() < deadline:
            self.tracer.op = i
            dt, shards, out = self.ingest(osm, psi, f"op{i}")
            got = checks.table_counts(out)
            self.record(got == truth.tables, f"ingest op{i}",
                        [f"{k}: {got.get(k)} != {v}" for k, v in truth.tables.items()
                         if got.get(k) != v])
            times.append(dt)
            self.report.setdefault("output_mb", []).append(dir_mb(out))
            if self.tracer.enabled and i == 0:
                self.trace_ingest_layers(psi, shards, truth, i)
            self.cleanup("shards", "out")
            i += 1

        total_elements = truth.elements * len(times)
        self.report["ops"] = {"ingest_s": times}
        self.report["host_steal_frac"] = steal_frac(jiffies)
        self.report["run_wall_s"] = time.perf_counter() - T_START
        self.report["named_metrics"] = {
            "ingest_elements_per_s": (total_elements / sum(times), "1/s"),
            "ingest_op_p50_s": (stats.median(times), "s"),
            "ingest_ops": (len(times), "count"),
        }
        self.layer["session.start_s"] = start_s
        return {"setup_s": setup_s, "op_p50_s": stats.median(times),
                "throughput_per_s": total_elements / sum(times)}

    def trace_ingest_layers(self, psi, shards, truth, i) -> None:
        """The engine's own build_tables + write_parquet once more, over
        the same shards, with every layer call forced inside its own span
        (Spark is lazy, so the ingest span alone cannot say which layer
        did the work): the DataFrames a layer function returns are cached
        and materialized with a noop sink, so the next layer starts from
        cached inputs."""
        import checks
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F
        from udacity_data_wrangling_osm_case_study_spark.functions import phones
        from udacity_data_wrangling_osm_case_study_spark.operators import (
            cleaning, official_streets, pipeline, shape, street_repair)
        from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml

        tr = self.tracer
        layers = {"sources.osm_xml": osm_xml, "operators.official_streets": official_streets,
                  "operators.shape": shape, "operators.cleaning": cleaning,
                  "operators.street_repair": street_repair}

        def materialize(out):
            for df in out if isinstance(out, tuple) else (out,):
                if isinstance(df, DataFrame):
                    df.cache().write.format("noop").mode("overwrite").save()

        calls: list = []
        out = self.path("out", f"layers{i}")
        with tr.span("osm_ingest.layers"):
            with tr.layer_shims(layers, materialize, calls):
                tables = pipeline.build_tables(self.spark, f"{shards}/*.osm", psi)
            with tr.span("operators.pipeline.write"):
                pipeline.write_parquet(tables, out)
        got = checks.table_counts(out)
        self.record(got == truth.tables, f"traced layers op{i}",
                    [f"{k}: {got.get(k)} != {v}" for k, v in truth.tables.items()
                     if got.get(k) != v])

        # useful-work ratios, counted outside the spans from what the
        # layer calls returned
        returned: dict[str, list] = {}
        for name, result in calls:
            returned.setdefault(name, []).append(result)
        ntags, wtags = returned["shape_tags"]  # nodes, then ways (with pos)
        ways_tags_pos = returned["fix_phones_in_tags"][1][0]
        name_ids = returned["repair_street_names"][0][1]
        tags = ntags.unionByName(wtags.drop("pos"))
        cand = tags.filter(phones.is_phone_key(F.col("key")))
        changed = cand.filter(
            ~phones.fix_phone_value(F.col("value")).eqNullSafe(F.col("value"))).count()
        n_cand = cand.count()
        n_streets = street_repair.street_ids(ways_tags_pos).count()
        n_repaired = name_ids.count()
        self.record(n_cand == truth.phone_candidates and changed == truth.phones_changed
                    and n_repaired == truth.streets_repaired, f"traced ratios op{i}")
        self.report.setdefault("ratios", []).append(
            {"phone_candidates": n_cand, "phones_changed": changed,
             "street_ways": n_streets, "streets_repaired": n_repaired})
        self.spark.catalog.clearCache()

    def sql_interactive(self) -> dict:
        import checks
        from tools.check_oracle import duck_connection
        from udacity_data_wrangling_osm_case_study_spark.plans import audits, osm_exploration, registry

        city = staged_city(self.root)
        with open(os.path.join(city, "truth.json")) as fh:
            truth = gen_osm.Truth(**json.load(fh))
        psi, shards, parquet = (os.path.join(city, p) for p in ("streets.xml", "shards", "parquet"))
        sf_dir = self.path("in", "tables")
        gen_tables.generate(self.args.seed, sf_dir, sf=TABLES_SF)
        queries, oracles = registry.load_all()

        # set-up: session, views over the staged parquet, and a warm-up
        # that counts each view's rows (a check of the staged city too)
        t0 = time.perf_counter()
        spark = self.start_session()
        start_s = time.perf_counter() - t0
        counts = {}
        for t in checks.OSM_TABLES:
            spark.read.parquet(f"{parquet}/{t}").createOrReplaceTempView(t)
            with self.tracer.paused():
                counts[t] = spark.table(t).count()
        setup_s = time.perf_counter() - t0
        self.record(counts == truth.tables, "staged city", [f"{counts} != {truth.tables}"])

        glob = f"{shards}/*.osm"
        ops = [("osm_exploration", n, lambda sql=sql: spark.sql(sql))
               for n, sql in osm_exploration.EXPLORATION_SQL.items()]
        ops += [("audits", "audit_bilingual_street_names",
                 lambda: audits.audit_bilingual_street_names(spark, glob, psi)),
                ("audits", "audit_phone_numbers",
                 lambda: audits.audit_phone_numbers(spark, glob))]
        ops += [(queries[n].__module__.rsplit(".", 1)[-1], n,
                 lambda n=n: queries[n](spark, sf_dir)) for n in REGISTRY_QUERIES]
        # One fixed interleaving for every run: the first queries of a
        # fresh session pay most of the codegen and JIT cost, so a
        # per-seed order would move that cost between queries.
        random.Random(QUERY_ORDER_SEED).shuffle(ops)

        osm_con, tpch_con = checks.osm_connection(parquet), duck_connection(sf_dir)
        expected: dict[str, object] = {}

        def expect(module: str, name: str):
            key = f"{module}.{name}"  # names repeat across modules
            if key not in expected:
                if module == "osm_exploration":
                    expected[key] = osm_con.execute(
                        osm_exploration.EXPLORATION_SQL[name]).fetchdf()
                elif name == "audit_bilingual_street_names":
                    expected[key] = truth.street_audit
                elif name == "audit_phone_numbers":
                    expected[key] = truth.phone_audit
                else:
                    expected[key] = tpch_con.execute(oracles[name]).fetchdf()
            return expected[key]

        latencies: list[float] = []
        per_query: dict[str, list[float]] = {}
        tr = self.tracer
        jiffies = cpu_jiffies()
        deadline = time.perf_counter() + self.args.seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for module, name, build in ops:
                tr.op = len(latencies)
                t1 = time.perf_counter()
                with tr.span(f"plans.{module}"):
                    with tr.span("plans.build"):
                        df = build()
                    if tr.enabled:
                        with tr.span("plans.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("plans.exec"):
                        got = df.toPandas()
                dt = time.perf_counter() - t1
                latencies.append(dt)
                per_query.setdefault(f"{module}.{name}", []).append(dt)
                want = expect(module, name)
                if isinstance(want, int):
                    self.record(len(got) == want, name, [f"{len(got)} rows != {want}"])
                else:
                    problems = checks.compare(got, want)
                    self.record(not problems, f"{module}.{name}", problems)
            passes += 1
            spark.catalog.clearCache()
        osm_con.close()
        tpch_con.close()

        n = len(latencies)
        tail_p = stats.tail_percentile(n)
        self.report["ops"] = {"query_s": per_query, "passes": passes}
        self.report["host_steal_frac"] = steal_frac(jiffies)
        self.report["run_wall_s"] = time.perf_counter() - T_START
        self.report["named_metrics"] = {
            "query_p50_s": (stats.median(latencies), "s"),
            "query_tail_s": ((stats.percentile(latencies, tail_p), "s")
                             if tail_p is not None else (None, "s")),
            "query_tail_percentile": (tail_p, "percentile"),
            "queries": (n, "count"),
            "queries_per_min": (60.0 * n / sum(latencies), "1/min"),
        }
        if tr.enabled:
            self.summarize_plans(passes)
        self.layer["session.start_s"] = start_s
        return {"setup_s": setup_s, "op_p50_s": stats.median(latencies),
                "throughput_per_s": n / sum(latencies)}

    # ------------------------------------------------------------ tracing
    def summarize_plans(self, passes: int) -> None:
        tr = self.tracer
        for key in ("build", "plan", "exec"):
            walls = [s.wall for s in tr.by_name(f"plans.{key}")]
            self.layer[f"plans.{key}_s"] = stats.median(walls) if walls else 0.0
        roots = [s for s in tr.spans if s.parent is None and s.name.startswith("plans.")]
        if roots:
            self.layer["plans.jobs_per_query"] = (
                sum(s.counters.get("jobs", 0) for s in roots) / len(roots))
            self.layer["plans.stages_per_query"] = (
                sum(s.counters.get("stages", 0) for s in roots) / len(roots))
        for m in PLAN_MODULES:
            walls = [s.wall for s in tr.by_name(f"plans.{m}") if s.parent is None]
            self.layer[f"plans.{m}.s"] = sum(walls) / passes

    def summarize_ingest(self) -> None:
        tr, L = self.tracer, self.layer

        def per_op(name: str) -> list[dict]:
            """Wall time and counters of every span called ``name``,
            summed per operation (a layer may be called more than once)."""
            ops: dict[int, dict] = {}
            for s in tr.by_name(name):
                acc = ops.setdefault(s.op, {"wall": 0.0})
                acc["wall"] += s.wall
                for k, v in s.counters.items():
                    acc[k] = acc.get(k, 0.0) + v
            for acc in ops.values():
                acc["core_busy_frac"] = acc.get("run_s", 0.0) / (acc["wall"] * self.cores)
            return list(ops.values())

        def med(name: str, key: str = "wall") -> float:
            vals = [acc.get(key, 0.0) for acc in per_op(name)]
            return stats.median(vals) if vals else 0.0

        L["sources.osm_split.s"] = med("sources.osm_split")
        if L["sources.osm_split.s"]:
            L["sources.osm_split.mb_per_s"] = self.report["input"]["export_mb"] / L["sources.osm_split.s"]
        L["sources.osm_split.shards"] = self.report.get("shards", 0)
        L["sources.osm_xml.parse_s"] = med("sources.osm_xml")
        L["sources.osm_xml.tasks"] = med("sources.osm_xml", "tasks")
        L["sources.osm_xml.core_busy_frac"] = med("sources.osm_xml", "core_busy_frac")
        for layer in ("official_streets", "shape", "cleaning", "street_repair"):
            L[f"operators.{layer}.s"] = med(f"operators.{layer}")
        ratios = self.report.get("ratios", [])
        if ratios:
            r = ratios[-1]
            L["operators.cleaning.phone_fix_ratio"] = r["phones_changed"] / max(1, r["phone_candidates"])
            L["operators.street_repair.fix_ratio"] = r["streets_repaired"] / max(1, r["street_ways"])
        for key in ("stages", "tasks", "core_busy_frac", "gc_s", "shuffle_write_mb", "spill_mb"):
            L[f"operators.pipeline.{key}"] = med("operators.pipeline", key)
        L["operators.pipeline.write_parquet_s"] = med("operators.pipeline.write_parquet")
        L["operators.pipeline.output_mb"] = stats.median(self.report.get("output_mb", [0.0]))

    def finish_trace(self) -> None:
        tr = self.tracer
        if self.args.workload == "osm_ingest":
            self.summarize_ingest()
        roots = [s for s in tr.spans if s.parent is None]
        self.layer["spark.failed_tasks"] = sum(s.counters.get("failed_tasks", 0) for s in roots)
        traced_wall = sum(s.wall for s in roots)
        self.layer["trace.overhead_frac"] = tr.overhead_s / traced_wall if traced_wall else 0.0
        rem = tr.remainder()
        op_wall = sum(s.wall for s in tr.operations())
        self.layer["trace.unattributed_frac"] = sum(rem.values()) / op_wall if op_wall else 0.0
        self.report["trace"] = {"overhead_s": tr.overhead_s, "traced_wall_s": traced_wall,
                                "unattributed_s_by_root": rem}

    def cleanup(self, *dirs: str) -> None:
        for d in dirs:
            shutil.rmtree(self.path(d), ignore_errors=True)

    # --------------------------------------------------------------- main
    def execute(self) -> dict:
        configure_env(self.work)
        try:
            e2e = getattr(self, self.args.workload)()
            self.layer["peak_rss_mb"] = process_tree_peak_rss_mb(os.getpid())
            if self.tracer.enabled:
                self.finish_trace()
        finally:
            self.stop_session()
        self.layer["failed_frac"] = self.failed / max(1, self.attempted)
        return e2e


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stage-city", metavar="DIR",
                    help="only build the city sql_interactive reads, into DIR")
    args = ap.parse_args(argv)
    if args.stage_city is None and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    sys.path.insert(0, root)  # the engine is imported from the checkout
    try:
        import udacity_data_wrangling_osm_case_study_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {root}: {e}",
              file=sys.stderr)
        return 2
    if args.stage_city is not None:
        stage_city(args.stage_city)
        return 0

    run = Run(args, root)
    try:
        e2e = run.execute()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    run.report.update(end_to_end=e2e, per_layer=run.layer, attempted=run.attempted,
                      failed=run.failed, problems=run.problems)
    with open(stem + ".json", "w") as fh:
        json.dump(run.report, fh, indent=1, default=str)
    if run.tracer.enabled:
        run.tracer.dump(stem + ".spans.json")

    for p in run.problems:
        print(f"FAILED {p}")
    for name, (value, unit) in run.report.get("named_metrics", {}).items():
        print(f"{args.workload} {name} = {value} {unit}")
    print(f"{args.workload} host_steal_frac = {run.report.get('host_steal_frac')} frac")
    if not args.trace:
        for k in ("peak_rss_mb", "failed_frac"):
            print(f"{args.workload} {k} = {run.layer[k]} {PER_LAYER[k]}")
    chosen = (PER_LAYER, run.layer) if args.trace else (END_TO_END, e2e)
    metrics = {k: {"value": chosen[1][k], "unit": u} for k, u in chosen[0].items()}
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
