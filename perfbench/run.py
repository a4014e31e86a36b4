"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload sdf_build_serve --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. Workloads (see BENCHMARK.json):

- ``sdf_build_serve``: per cycle, a cold ``build_db(reset=True)`` over a
  seeded gzip SDF corpus with the default layout, a ``build_db(reset=False)``
  that appends new shards to it, then a seeded stream of ``PubChemDB``
  lookups with a fixed share of misses.
- ``analytics_sf001``: 8 SQL and 10 operator registry rows over the
  committed sf0.01 tables, each to the noop sink, in a fixed order (the
  inputs are fixed, so the seed does not change them).

One process, one client, closed loop; ``SPARK_GRAFT_CPUS`` is the core count
and the program's own ``get_spark`` defaults apply. Set-up (session start,
input generation, a warm-up unit and the output checks that run in it) is
timed as ``setup_s``. With ``--trace 0`` the result carries the end-to-end
metrics; with ``--trace 1`` the session writes a Spark event log and the
result carries the per-layer metrics (README.md lists them). Every output
check that fails counts as a failed operation. Scratch files go under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from process start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import copy  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import sdfgen  # noqa: E402

WORKLOADS = ("sdf_build_serve", "analytics_sf001")

# Corpus sizes, set by the run-time budget (22 runs per workload). At 24k
# base records the fixed per-job costs of a build (index rebuild, write and
# manifest jobs) are a larger share of its wall time than on a big corpus;
# README.md gives the measured split against 160k records.
BASE_SHARDS, DELTA_SHARDS, PER_SHARD = 8, 2, 3000
WARMUP_LOOKUPS, LOOKUPS_PER_CYCLE = 6, 15
# Nominal seconds per measured unit: a run measures round(--seconds /
# nominal) units, at least one, so every run of a workload has the same
# composition. An analytics pass is measured once per run: a second pass
# made a run 11-14 s longer, which 22 runs per workload cannot afford when
# the host is slow, and did not reliably narrow the spread across runs (the
# speed of a shared VM drifts over minutes and moves whole runs).
NOMINAL_UNIT_S = {"sdf_build_serve": 7.5, "analytics_sf001": 15.0}

SQL_ROWS = (
    "pricing_summary", "top_unshipped_orders", "revenue_by_nation", "brand_volume",
    "top_orders_per_customer", "event_windows", "session_window", "events_hourly",
)
# operator row -> the layer (operators.<module>) whose code it mostly runs
OPERATOR_ROWS = {
    "dedup_exact": ("operators.dedup", "exact"),
    "dedup_minhash_lsh": ("operators.dedup", "lsh"),
    "knn_cosine": ("operators.similarity", "knn_cosine"),
    "ann_ivf": ("operators.similarity", "ann_ivf"),
    "token_topk": ("operators.corpus", "token_topk"),
    "doc_chunks": ("operators.corpus", "doc_chunks"),
    "sample_splits": ("operators.corpus", "sample_splits"),
    "text_signals": ("operators.corpus", "text_signals"),
    "retrieval_topk": ("operators.retrieval", "retrieval_topk"),
    "hybrid_batch": ("operators.retrieval", "hybrid_batch"),
}
LOOKUP_KINDS = ("by_cid", "by_inchikey", "by_inchikey_prefix", "mass_window", "by_formula")

# Layer groups: each reports the same counters from the event log.
# plans.layout is not one: its probe runs fused into the parse job, so it
# has no jobs of its own and reports only what it adds to the parse probe.
GROUPS = (
    "sources.sdf", "pipeline.write", "pipeline.build_indexes",
    "sources.manifest", "pipeline.lookup", "queries", "operators.dedup",
    "operators.retrieval", "operators.similarity", "operators.corpus",
)
GROUP_COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
    ("task_wait_s", "s"), ("shuffle_write_bytes", "B"), ("driver_s", "s"),
)

END_TO_END = {"setup_s": "s", "unit_s": "s", "call_p50_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in the order they are printed."""
    m = {}
    for g in GROUPS:
        for c, unit in GROUP_COUNTERS:
            m[f"{g}.{c}"] = unit
    m.update({
        "sources.sdf.parse_s": "s", "sources.sdf.records_read": "count",
        "plans.layout.project_s": "s", "plans.layout.project_cpu_s": "s",
        "plans.layout.rows_kept_ratio": "1",
        "pipeline.write_s": "s", "pipeline.build_indexes_s": "s",
        "pipeline.bytes_written": "B", "pipeline.bytes_per_row": "B",
        "pipeline.build_rec_per_s": "rec/s", "pipeline.append_s": "s",
        "pipeline.append_indexes_s": "s",
        "sources.manifest.pending_files_s": "s",
        "sources.manifest.manifest_rows_for_s": "s",
    })
    for k in LOOKUP_KINDS:
        m[f"pipeline.lookup.{k}_ms"] = "ms"
    m.update({
        "pipeline.lookup.tail_ms": "ms", "pipeline.lookup.driver_ms": "ms",
        "pipeline.lookup.jobs_per_lookup": "count",
        "pipeline.lookup.rows_scanned_per_hit": "count",
    })
    for r in SQL_ROWS:
        m[f"queries.{r}_s"] = "s"
        m[f"queries.{r}.jobs"] = "count"
    m["queries.sql_mix_s"] = "s"
    m["operators.operator_mix_s"] = "s"
    for layer, short in OPERATOR_ROWS.values():
        m[f"{layer}.{short}_s"] = "s"
    m.update({
        "operators.dedup.lsh_jobs": "count", "operators.dedup.lsh_shuffle_bytes": "B",
        "operators.retrieval.hybrid_batch_jobs": "count",
        "operators.similarity.python_s": "s", "operators.retrieval.python_s": "s",
        "spark.gc_s": "s", "spark.spill_bytes": "B", "spark.task_failures": "count",
        "traced.unit_s": "s", "traced.call_p50_ms": "ms", "check.failed_ratio": "1",
        "process.peak_rss_mb": "MB",
    })
    return m


# -- process plumbing --------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every process visible in /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(root: int) -> dict[int, int]:
    """pid -> rss of every process below ``root`` (not ``root`` itself)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo.extend(kids.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and its Python workers."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, sum(descendants(os.getpid()).values()))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def prepare_env(work: str) -> None:
    """Session inputs from the environment, set before the JVM starts:
    the core count, and scratch space inside the checkout."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files go to the checkout too; -UsePerfData stops it
    # writing its hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    )
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    started = set(descendants(os.getpid()))
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.2)
    for pid in started:
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


# -- measurement helpers ------------------------------------------------------

def tail(values: list[float]) -> float:
    """The highest value with at least ten samples beyond it (the 11th
    largest); the maximum when there are fewer than eleven samples."""
    ordered = sorted(values)
    return ordered[-11] if len(ordered) >= 11 else ordered[-1]


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Bench:
    """State shared by the workloads: session, spans, operation tallies."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.units: list[float] = []  # measured unit walls, s
        self.calls: list[float] = []  # measured call walls, s
        self.layer: dict[str, list[float]] = {}  # named per-unit samples
        self.spark = None
        self.spans = eventlog.Spans()
        self.measure_start = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def start_session(self, app: str) -> None:
        from local_pubchem_db_spark import get_spark

        extra = None
        if self.args.trace:
            extra = eventlog.eventlog_conf(os.path.join(self.work, "eventlog"))
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        self.spark = get_spark(app_name=app, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.spans.sc = self.spark.sparkContext

    def span(self, name: str):
        return self.spans.span(name) if self.args.trace else contextlib.nullcontext()

    def units_to_run(self) -> int:
        return max(1, round(self.args.seconds / NOMINAL_UNIT_S[self.args.workload]))


# -- SDF workloads -------------------------------------------------------------

def _layout():
    from local_pubchem_db_spark import load_db_specifications

    return load_db_specifications(os.path.join(ROOT, "default_db_layout.json"))


def _build(b: Bench, base: str, reset: bool) -> float:
    """One timed ``build_db``; its prints go to stderr."""
    from local_pubchem_db_spark import build_db

    t = time.time()
    span = "pipeline.build_db" if reset else "pipeline.append"
    with b.span(span), contextlib.redirect_stdout(sys.stderr):
        rc = build_db(base, use_gzip=True, reset=reset, db_specs=b.specs, spark=b.spark)
    wall = time.time() - t
    b.check(rc == 0, f"build_db returned {rc}")
    return wall


def _verify_db(b: Bench, base: str, truth: dict) -> int:
    """compounds rows and every manifest n_compounds against the generator."""
    from local_pubchem_db_spark import PubChemDB

    db = PubChemDB(b.spark, base)
    rows = db.compounds().count()
    want = truth["survivors"] + b.args.perturb_expected
    b.check(rows == want, f"compounds rows {rows} != expected {want}")
    manifest = {r["filename"]: r["n_compounds"] for r in db.sdf_file().collect()}
    b.check(manifest == truth["per_file"], "manifest n_compounds differ from expected")
    return rows


def _lookups(b: Bench, base: str, stream: list, measured: bool) -> None:
    """Run lookups through ``PubChemDB``; each returns its expected CIDs."""
    from local_pubchem_db_spark import PubChemDB

    db = PubChemDB(b.spark, base)
    for kind, arg, want in stream:
        t = time.time()
        with b.span(f"pipeline.lookup.{kind}"):
            fn = getattr(db, kind)
            df = fn(*arg) if isinstance(arg, list) else fn(arg)
            got = sorted(r["cid"] for r in df.select("cid").collect())
        wall = time.time() - t
        b.check(got == want, f"{kind}({arg}) returned {got[:5]}, expected {want[:5]}")
        if measured:
            b.calls.append(wall)
            b.note(f"pipeline.lookup.{kind}_ms", wall * 1e3)
            b.note("lookup.hits", len(got))


def _install_wrappers(b: Bench) -> None:
    """Traced run: time the calls ``build_db`` makes into other layers."""
    from local_pubchem_db_spark import pipeline

    b.spans.wrap(pipeline, "pending_files", "sources.manifest.pending_files")
    b.spans.wrap(pipeline, "build_indexes", "pipeline.build_indexes")


def _layer_probes(b: Bench, files: list[str]) -> None:
    """Traced run: the parse and the layout projection, each to noop."""
    from local_pubchem_db_spark.pipeline import compounds_plan
    from local_pubchem_db_spark.plans.layout import compile_layout
    from local_pubchem_db_spark.sources.sdf import read_sdf

    layout = compile_layout(b.specs)
    with b.span("sources.sdf") as s:
        read_sdf(b.spark, files).write.format("noop").mode("overwrite").save()
    b.note("sources.sdf.parse_s", s["wall"])
    with b.span("plans.layout") as s2:
        compounds_plan(read_sdf(b.spark, files), layout).write.format("noop").mode("overwrite").save()
    b.note("plans.layout.project_s", s2["wall"] - s["wall"])


def run_sdf(b: Bench) -> None:
    """Cycles of: cold build of the base shards, append of the delta
    shards, then lookups over the appended table."""
    from pyspark.sql import functions as F

    from local_pubchem_db_spark.sources.manifest import manifest_rows_for

    a = b.args
    base, delta = os.path.join(b.work, "base"), os.path.join(b.work, "delta")
    sdf_dir, db_dir = os.path.join(base, "sdf"), os.path.join(base, "db")
    n_units = b.units_to_run()
    per_shard, n_base = a.per_shard or PER_SHARD, a.shards or BASE_SHARDS
    base_truth = sdfgen.generate(sdf_dir, a.seed, n_base, per_shard, root=ROOT)
    truth = sdfgen.generate(
        delta, a.seed + 1, DELTA_SHARDS, per_shard, root=ROOT, first_shard=n_base,
        n_lookups=WARMUP_LOOKUPS + LOOKUPS_PER_CYCLE * n_units,
        truth=copy.deepcopy(base_truth),
    )
    base_files = sorted(os.path.join(sdf_dir, f) for f in base_truth["per_file"])
    delta_files = sorted(os.listdir(delta))
    stream = truth["lookups"]
    b.specs = _layout()
    b.start_session("perfbench-sdf")
    if a.trace:
        _install_wrappers(b)

    def cycle(lookups: list, measured: bool) -> None:
        for f in delta_files:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(sdf_dir, f))
        if measured and a.trace:
            _layer_probes(b, base_files)
        build = _build(b, base, reset=True)
        nbytes = du(db_dir)
        for f in delta_files:
            shutil.copy(os.path.join(delta, f), os.path.join(sdf_dir, f))
        append = _build(b, base, reset=False)
        rows = _verify_db(b, base, truth)  # covers the cold build's files too
        print(f"cycle: build {build:.3f} s, append {append:.3f} s", file=sys.stderr)
        if measured:
            b.units.append(build + append)
            b.note("pipeline.build_rec_per_s", base_truth["records"] / build)
            b.note("pipeline.append_s", append)
            b.note("plans.layout.rows_kept_ratio", rows / truth["records"])
            b.note("pipeline.bytes_written", nbytes)
            b.note("pipeline.bytes_per_row", nbytes / base_truth["survivors"])
        if measured and a.trace:
            compounds = b.spark.read.parquet(os.path.join(db_dir, "compounds"))
            with b.span("sources.manifest.manifest_rows_for"):
                manifest_rows_for(
                    compounds.select(F.col("ingest_batch").alias("source_file")),
                    sorted(truth["per_file"]),
                ).write.format("noop").mode("overwrite").save()
        _lookups(b, base, lookups, measured)

    cycle(stream[:WARMUP_LOOKUPS], measured=False)
    b.measure_start = time.time()
    for u in range(n_units):
        lo = WARMUP_LOOKUPS + u * LOOKUPS_PER_CYCLE
        cycle(stream[lo:lo + LOOKUPS_PER_CYCLE], measured=True)


# -- analytics workload --------------------------------------------------------

def run_analytics(b: Bench) -> None:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import run_check

    from local_pubchem_db_spark.operators.util import release_shared_caches
    from local_pubchem_db_spark.queries import QUERIES

    a = b.args
    sf_dir = a.sf_dir or os.path.join(HERE, "data", "sf0.01")
    # A fixed order: the JIT and GC state a row meets depends on the rows
    # before it, and a shuffled order made pass times spread by 14%.
    rows = list(SQL_ROWS) + list(OPERATOR_ROWS)
    b.start_session("perfbench-analytics")
    spark = b.spark

    def span_name(row: str) -> str:
        if row in OPERATOR_ROWS:
            layer, short = OPERATOR_ROWS[row]
            return f"{layer}.{short}"
        return f"queries.{row}"

    # the warm-up pass is the output check: each row against its DuckDB twin
    res = run_check(spark, sf_dir, only=set(rows), verbose=False)
    b.attempted += len(rows)
    b.failed += res["fail"]
    if res["fail"]:
        print(f"CHECK FAILED: rows differ from their twins: {res['fail_names']}", file=sys.stderr)
    release_shared_caches(spark)
    b.measure_start = time.time()
    for _ in range(b.units_to_run()):
        sums = {"sql": 0.0, "op": 0.0}
        for row in rows:
            t, err = time.time(), None
            try:
                with b.span(span_name(row)):
                    QUERIES[row](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing row is a failed operation
                err = e
            wall = time.time() - t
            b.check(err is None, f"{row} raised {err!r}")
            release_shared_caches(spark)
            b.calls.append(wall)
            b.note(span_name(row) + "_s", wall)
            sums["op" if row in OPERATOR_ROWS else "sql"] += wall
        b.units.append(sums["sql"] + sums["op"])
        print(f"\npass: sql {sums['sql']:.3f} s, operators {sums['op']:.3f} s", file=sys.stderr)
        b.note("queries.sql_mix_s", sums["sql"])
        b.note("operators.operator_mix_s", sums["op"])


# -- per-layer metrics from spans and the event log ------------------------------

def _group_of(name: str) -> str | None:
    if name in ("pipeline.build_db", "pipeline.append"):
        return "pipeline.write"
    if name.startswith("sources.manifest."):
        return "sources.manifest"
    if name.startswith("pipeline.lookup."):
        return "pipeline.lookup"
    if name.startswith("queries."):
        return "queries"
    for g in GROUPS:
        if name == g or name.startswith(g + "."):
            return g
    return None


def layer_metrics(b: Bench, events: list[dict]) -> dict[str, float]:
    spans = [s for s in b.spans.done if s["start"] >= b.measure_start]
    counters = eventlog.attribute(events, b.spans.done)
    n_units = max(1, len(b.units))
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {name: 0.0 for name in per_layer_units()}
    groups: dict[str, dict[str, float]] = {}
    spark_wide = {"gc_s": 0.0, "spill_bytes": 0, "task_failures": 0}
    parse_cpu = 0.0
    for s in spans:
        c = counters[id(s)]
        g = _group_of(s["name"])
        for k in spark_wide:
            spark_wide[k] += c[k]
        if s["name"] == "sources.sdf":
            parse_cpu = c["executor_cpu_s"]
        elif s["name"] == "plans.layout":
            b.note("plans.layout.project_cpu_s", c["executor_cpu_s"] - parse_cpu)
        if g is None:
            continue
        acc = groups.setdefault(g, {k: 0.0 for k, _ in GROUP_COUNTERS})
        for k, _ in GROUP_COUNTERS:
            if k == "driver_s":
                acc[k] += (s["wall"] - s["children"]) - c["job_s"]
            else:
                acc[k] += c[k]
        acc.setdefault("python_s", 0.0)
        acc["python_s"] += c["python_s"]
        acc.setdefault("input_records", 0)
        acc["input_records"] += c["input_records"]
        if s["name"] == "sources.sdf":
            b.note("sources.sdf.records_read", c["input_records"])
        elif s["name"] == "pipeline.build_db":
            b.note("pipeline.write_s", s["wall"] - s["children"])
        elif s["name"] == "pipeline.build_indexes":
            kind = "build_indexes" if s["parent"] == "pipeline.build_db" else "append_indexes"
            b.note(f"pipeline.{kind}_s", s["wall"])
        elif s["name"].startswith("sources.manifest.") and s["parent"] != "pipeline.build_db":
            # in a cold build the manifest is absent and pending_files is a no-op
            b.note(s["name"] + "_s", s["wall"])
        elif s["name"].startswith("pipeline.lookup."):
            b.note("lookup.jobs", c["jobs"])
            b.note("lookup.driver_ms", (s["wall"] - c["job_s"]) * 1e3)
        elif s["name"].startswith("queries."):
            b.note(s["name"] + ".jobs", c["jobs"])
        elif s["name"] == "operators.dedup.lsh":
            b.note("operators.dedup.lsh_jobs", c["jobs"])
            b.note("operators.dedup.lsh_shuffle_bytes", c["shuffle_write_bytes"])
        elif s["name"] == "operators.retrieval.hybrid_batch":
            b.note("operators.retrieval.hybrid_batch_jobs", c["jobs"])
    for g, acc in groups.items():
        for k, _ in GROUP_COUNTERS:
            out[f"{g}.{k}"] = acc[k] / n_units
        if f"{g}.python_s" in out:
            out[f"{g}.python_s"] = acc["python_s"] / n_units
    for name in out:
        if name in b.layer:
            out[name] = med(b.layer[name])
    lookup_ms = [x * 1e3 for x in b.calls] if "pipeline.lookup" in groups else []
    if lookup_ms:
        out["pipeline.lookup.tail_ms"] = tail(lookup_ms)
        out["pipeline.lookup.driver_ms"] = med(b.layer["lookup.driver_ms"])
        out["pipeline.lookup.jobs_per_lookup"] = sum(b.layer["lookup.jobs"]) / len(lookup_ms)
        hits = sum(b.layer.get("lookup.hits", []))
        out["pipeline.lookup.rows_scanned_per_hit"] = groups["pipeline.lookup"]["input_records"] / max(hits, 1)
    out["spark.gc_s"] = spark_wide["gc_s"] / n_units
    out["spark.spill_bytes"] = spark_wide["spill_bytes"] / n_units
    out["spark.task_failures"] = spark_wide["task_failures"]
    out["traced.unit_s"] = med(b.units)
    out["traced.call_p50_ms"] = med(b.calls) * 1e3
    out["check.failed_ratio"] = b.failed / max(b.attempted, 1)
    return out


# -- entry point ---------------------------------------------------------------

RUNNERS = {"sdf_build_serve": run_sdf, "analytics_sf001": run_analytics}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: smaller inputs, another table directory, and a
    # deliberately wrong expected row count
    ap.add_argument("--shards", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--per-shard", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--sf-dir", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--perturb-expected", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    b = Bench(args, work)
    # peak RSS is a per-layer metric: the untraced run does not sample it,
    # so the sampling thread does not compete with the driver for the GIL
    sampler = RssSampler()
    if args.trace:
        sampler.start()
    try:
        with contextlib.redirect_stdout(sys.stderr):
            RUNNERS[args.workload](b)
        setup_s = b.measure_start - T_PROCESS
        # stopping Spark flushes and closes the event log before it is read
        spark, b.spark = b.spark, None
        stop_session(spark)
        if args.trace:
            events = eventlog.read_events(os.path.join(work, "eventlog"))
    finally:
        if b.spark is not None:
            stop_session(b.spark)
        if args.trace:
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    if args.trace:
        metrics = layer_metrics(b, events)
        metrics["process.peak_rss_mb"] = sampler.peak / 2**20
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "unit_s": statistics.median(b.units),
            "call_p50_ms": statistics.median(b.calls) * 1e3,
        }
        units = END_TO_END
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
