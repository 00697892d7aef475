"""Benchmark of the medallion engine: end-to-end metrics per workload, and a
traced mode that attributes each pass to the engine's layers.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 6 --trace 0

Load model: one process, ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on), one client in a closed loop. A pass runs every
operation of the workload once, in a fixed order. Two warm-up passes, the
first of which checks every output, precede the timed passes, which repeat
until ``--seconds`` have elapsed. All scratch files live under
``.perfbench/`` in the checkout. The last stdout line is the result JSON;
the line before it holds the run's metadata. See README.md beside this
file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from inbev_data_engineering_case_spark import pipeline  # noqa: E402
from inbev_data_engineering_case_spark.queries import CATALOG  # noqa: E402
from inbev_data_engineering_case_spark.schemas import BREWERY_BRONZE  # noqa: E402
from inbev_data_engineering_case_spark.session import get_spark  # noqa: E402
from inbev_data_engineering_case_spark.sources.rest import PagedRestSource  # noqa: E402
from inbev_data_engineering_case_spark.testing import table_hash  # noqa: E402

import inputs  # noqa: E402
from spans import RAN, NullTracer, Tracer, attribute, self_times, status_store  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
SF = 0.01
EXPECTED_PATH = os.path.join(HERE, "expected_catalog.json")
N_PAGES = 100  # medallion: 100 pages x 200 records, over twice the live API's 8.4k
# The first checks outputs. The JIT still compiles hard for a few passes
# after the second, so the first timed pass runs 5-35% slower than the
# next ones. Job and task counts do not depend on that, and a third
# warm-up pass would cost 4-7 s of every run's set-up.
WARMUP_PASSES = 2
# The catalog workload runs both groups; per-layer metrics report each
# group's construction share. Execution does the work in the scan group,
# construction (a stream drained while the operation builds) in the
# iterative group.
CATALOG_SCAN = [
    "q_gold_agg", "q_window_events", "q_heavy_hitters", "q_tfidf_topk",
]
CATALOG_ITERATIVE = ["q_stream_classifier"]
CATALOG_OPS = CATALOG_SCAN + CATALOG_ITERATIVE
WORKLOADS = ("medallion", "catalog")

# Sums over the stages a span launched (spans.attribute keys).
STAGE_TOTALS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "task_cpu_s": "s", "gc_s": "s", "input_mb": "MB", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "shuffle_fetch_wait_s": "s", "spill_mb": "MB",
    "failed_tasks": "count",
}
# The gated end-to-end metrics. Pass wall time is not among them: on the
# shared VM the benchmark was built on, the host's other tenants took
# 10-17% of the CPU for minutes at a time, which made the wall time of
# identical runs differ by up to 2x.
# Spark jobs and tasks per pass do not depend on the host's speed.
END_TO_END = {"setup_s": "s", "spark_jobs": "count", "spark_tasks": "count"}


def _per_layer() -> dict[str, tuple[str, str]]:
    """Per-layer metric name -> (unit, better)."""
    m = {
        "session.start_s": ("s", "lower"),
        "peak_rss_mb": ("MB", "lower"),
        "cpu_s": ("s", "lower"),
    }
    m.update({
        "operators.build_s": ("s", "lower"),
        "operators.build_jobs": ("count", "lower"),
        "operators.build_stages": ("count", "lower"),
        "operators.build_tasks": ("count", "lower"),
        "operators.build_task_s": ("s", "lower"),
        "operators.driver_s": ("s", "lower"),
        "operators.construction_share": ("ratio", "lower"),
        "operators.scan_construction_share": ("ratio", "lower"),
        "operators.iterative_construction_share": ("ratio", "lower"),
        "operators.checkpoint_mb": ("MB", "lower"),
        "exec.run_s": ("s", "lower"),
    })
    m.update({f"exec.{k}": (u, "lower") for k, u in STAGE_TOTALS.items()})
    m["exec.utilisation"] = ("ratio", "higher")
    m["orchestration_s"] = ("s", "lower")
    for op in CATALOG_OPS:
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("exec_jobs", "count")):
            m[f"op.{op}.{k}"] = (u, "lower")
    m["sources.rest.fetch_s"] = ("s", "lower")
    m["sources.rest.transport_calls_per_page"] = ("ratio", "lower")
    for stage in ("ingest", "silver", "gold"):
        m[f"pipeline.{stage}_s"] = ("s", "lower")
        m[f"pipeline.{stage}_jobs"] = ("count", "lower")
    for layer in ("bronze", "silver", "gold"):
        m[f"layers.{layer}_files"] = ("count", "lower")
        m[f"layers.{layer}_mb"] = ("MB", "lower")
    m["layers.silver_partitions"] = ("count", "lower")
    m["layers.bytes_per_record"] = ("B", "lower")
    for layer in ("harness", "operators", "exec", "pipeline", "sources"):
        m[f"trace.self.{layer}_s"] = ("s", "lower")
    m["trace.wall_s"] = ("s", "lower")
    m["trace.overhead_s"] = ("s", "lower")
    return m


PER_LAYER = _per_layer()


def layer_of(span_name: str) -> str:
    """Span name -> the layer its self time is charged to."""
    leaf = span_name.rsplit("/", 1)[-1]
    if leaf == "pass":
        return "harness"
    if leaf == "build":
        return "operators"
    return leaf.split(".", 1)[0]  # exec, pipeline, sources


def pass_layer_metrics(tracer, pass_span, jobs, stages, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from its spans and the status store."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    spans = [s for s in tracer.spans if s.pass_id == pass_span.pass_id]
    own = self_times(spans)
    for s in spans:
        m[f"trace.self.{layer_of(s.name)}_s"] += own[s.id]
        if s is pass_span:
            continue
        got = attribute(tracer, s, jobs, stages)
        parts = s.name.split("/")
        if parts[-1] in ("build", "exec"):
            op, kind = parts[1], parts[2]
            m[f"op.{op}.{kind}_s"] = s.duration
            m[f"op.{op}.{kind}_jobs"] = got["jobs"]
            if kind == "build":
                m["operators.build_s"] += s.duration
                m["operators.build_jobs"] += got["jobs"]
                m["operators.build_stages"] += got["stages"]
                m["operators.build_tasks"] += got["tasks"]
                m["operators.build_task_s"] += got["task_run_s"]
            else:
                m["exec.run_s"] += s.duration
                for k in STAGE_TOTALS:
                    m[f"exec.{k}"] += got[k]
        elif parts[-1].startswith("pipeline.run_"):
            stage = parts[-1].removeprefix("pipeline.run_")
            m[f"pipeline.{stage}_s"] = s.duration
            m[f"pipeline.{stage}_jobs"] = got["jobs"]
        elif parts[-1] == "sources.rest.to_dataframe":
            m["sources.rest.fetch_s"] += s.duration
    total = attribute(tracer, pass_span, jobs, stages)
    m["orchestration_s"] = pass_span.duration - total["task_run_s"] / cores
    m["operators.driver_s"] = m["operators.build_s"] - m["operators.build_task_s"] / cores
    m["operators.construction_share"] = m["operators.build_s"] / pass_span.duration
    for group, ops in (("scan", CATALOG_SCAN), ("iterative", CATALOG_ITERATIVE)):
        build = sum(m[f"op.{op}.build_s"] for op in ops)
        if build:
            total = build + sum(m[f"op.{op}.exec_s"] for op in ops)
            m[f"operators.{group}_construction_share"] = build / total
    if m["exec.run_s"]:
        m["exec.utilisation"] = m["exec.task_run_s"] / (m["exec.run_s"] * cores)
    return m


def spark_counts(jobs, stages, lo_ms: float, hi_ms: float) -> tuple[int, int]:
    """(jobs, tasks of the stages that ran) submitted in [lo_ms, hi_ms]."""
    def inside(rec: dict) -> bool:
        t = rec.get("submissionTime")
        return t is not None and lo_ms <= t <= hi_ms

    return (
        sum(1 for j in jobs if inside(j)),
        sum(s["numTasks"] for s in stages if s["status"] in RAN and inside(s)),
    )


def rdd_storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


class CatalogWorkload:
    def __init__(self, spark, name: str, ops: list[str], work: str, seed: int):
        self.spark, self.name, self.ops = spark, name, ops
        self.tables = os.path.join(work, "tables")
        inputs.permuted_tables(DATA_DIR, self.tables, seed)
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)
        self.held_mb = 0.0

    def check(self) -> tuple[int, int]:
        """A pass that collects each output and compares its (row_count, md5)
        with the oracle's. Returns (attempted, failed)."""
        failed = 0
        for op in self.ops:
            try:
                df = CATALOG[op].fn(self.spark, self.tables)
                got = table_hash(df.columns, [tuple(r) for r in df.collect()])
                if list(got) != self.expected[op]:
                    print(f"perfbench: {op} output {got} != expected {self.expected[op]}", file=sys.stderr)
                    failed += 1
            except Exception:  # counted, reported, and the run goes on
                traceback.print_exc()
                failed += 1
        return len(self.ops), failed

    def run_pass(self, tracer) -> tuple[int, int]:
        failed = 0
        for op in self.ops:
            try:
                with tracer.span(f"{self.name}/{op}/build"):
                    df = CATALOG[op].fn(self.spark, self.tables)
                with tracer.span(f"{self.name}/{op}/exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                failed += 1
            if tracer.enabled:
                t0 = time.perf_counter()
                self.held_mb = max(self.held_mb, rdd_storage_mb(self.spark.sparkContext))
                tracer.overhead_s += time.perf_counter() - t0
        return len(self.ops), failed

    def after_pass(self, traced: bool) -> tuple[int, dict]:
        """(failed checks, per-layer extras) of the pass just run."""
        extra = {"operators.checkpoint_mb": self.held_mb}
        self.held_mb = 0.0
        return 0, extra


class SpannedSource(PagedRestSource):
    """The REST source with a span around ``to_dataframe``."""

    tracer = NullTracer()

    def to_dataframe(self, spark):
        with self.tracer.span("medallion/sources.rest.to_dataframe"):
            return super().to_dataframe(spark)


def _transport(seed: int, calls):
    def fetch(page: int) -> list[dict]:
        calls.add(1)
        return inputs.brewery_page(seed, page)

    return fetch


class MedallionWorkload:
    """Each pass runs bronze -> silver -> gold into a fresh lake directory."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.calls = spark.sparkContext.accumulator(0)
        self.source = SpannedSource(
            _transport(seed, self.calls), BREWERY_BRONZE, N_PAGES, inputs.PER_PAGE,
            expected_total=N_PAGES * inputs.PER_PAGE,
        )
        self.expected = inputs.expected_gold(seed, N_PAGES)
        self.records = N_PAGES * inputs.PER_PAGE
        self.k, self.gold_path, self.calls0 = 0, None, 0

    def _lake(self) -> str:
        return os.path.join(self.work, f"lake-{self.k}")

    def run_pass(self, tracer) -> tuple[int, int]:
        dirs = {d: os.path.join(self._lake(), d) for d in ("bronze", "silver", "gold")}
        for d in dirs.values():
            os.makedirs(d)
        run_id = f"2024-01-01-{self.k // 60:02d}-{self.k % 60:02d}"
        self.source.tracer = tracer
        self.calls0, self.gold_path = self.calls.value, None
        done = 0  # stages finished; a stage that raises fails itself and the rest
        try:
            with tracer.span("medallion/pipeline.run_ingest"):
                pipeline.run_ingest(self.spark, self.source, dirs["bronze"], run_id)
            done = 1
            with tracer.span("medallion/pipeline.run_silver"):
                pipeline.run_silver(self.spark, dirs["bronze"], dirs["silver"], run_id)
            done = 2
            with tracer.span("medallion/pipeline.run_gold"):
                self.gold_path, _ = pipeline.run_gold(self.spark, dirs["silver"], dirs["gold"], run_id)
            done = 3
        except Exception:  # counted, reported, and the run goes on
            traceback.print_exc()
        return 3, 3 - done

    def after_pass(self, traced: bool) -> tuple[int, dict]:
        """Compare gold with the generator's table, then drop the lake."""
        failed = 0
        if self.gold_path is not None:
            got = Counter()
            for r in self.spark.read.parquet(self.gold_path).collect():
                got[(r["brewery_type"], r["country"], r["state"])] += r["brewery_count"]
            if got != self.expected:
                print(f"perfbench: gold has {len(got)} groups, {sum(got.values())} rows; "
                      f"expected {len(self.expected)}, {self.records}", file=sys.stderr)
                failed = 1
        extra = {}
        if traced:
            extra = lake_stats(self._lake(), self.records)
            extra["sources.rest.transport_calls_per_page"] = (self.calls.value - self.calls0) / N_PAGES
        shutil.rmtree(self._lake(), ignore_errors=True)
        self.k += 1
        return failed, extra

    def check(self) -> tuple[int, int]:
        attempted, failed = self.run_pass(NullTracer())
        return attempted, failed + self.after_pass(False)[0]


def lake_stats(lake: str, records: int) -> dict[str, float]:
    m: dict[str, float] = {}
    total = 0
    partitions = set()
    for layer in ("bronze", "silver", "gold"):
        files, size = 0, 0
        for dirpath, _, names in os.walk(os.path.join(lake, layer)):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                if not n.startswith((".", "_")):
                    files += 1
                    if layer == "silver":
                        partitions.add(dirpath)
        m[f"layers.{layer}_files"] = files
        m[f"layers.{layer}_mb"] = size / (1 << 20)
        total += size
    m["layers.silver_partitions"] = len(partitions)
    m["layers.bytes_per_record"] = total / records
    return m


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and its Python workers), reaped children included."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # ppid; utime + stime + cutime + cstime
            procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory so far of this process plus its JVM."""
    total_kb = 0
    for pid in ("self", SparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024


def source_revision() -> dict[str, str | None]:
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "inbev_data_engineering_case_spark")
    for dirpath, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha1": digest.hexdigest()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def start_spark(work: str):
    """The package's session, with every scratch path inside ``work``."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # for every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executor-side Python (the REST transport) imports the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def run(workload: str, seed: int, seconds: float, traced: bool) -> tuple[dict, dict]:
    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    meta = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(traced),
        "cpus": cores, "sf": SF if workload != "medallion" else None,
        "records": N_PAGES * inputs.PER_PAGE if workload == "medallion" else None,
        "pyspark": pyspark.__version__, "loadavg_before": os.getloadavg(),
        **source_revision(),
    }
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        if workload == "medallion":
            wl = MedallionWorkload(spark, work, seed)
        else:
            wl = CatalogWorkload(spark, workload, CATALOG_OPS, work, seed)
        t0 = time.perf_counter()
        attempted, failed = wl.check()
        for _ in range(WARMUP_PASSES - 1):
            n, bad = wl.run_pass(NullTracer())
            attempted, failed = attempted + n, failed + bad + wl.after_pass(False)[0]
        warmup_s = time.perf_counter() - t0
        tracer = Tracer(sc) if traced else NullTracer()

        walls, pass_cpu, pass_ms, layer_rows = [], [], [], []
        setup_s = process_age_s()
        t_timed = time.perf_counter()
        while not walls or time.perf_counter() - t_timed < seconds:
            # start each pass from collected heaps, so garbage left by the
            # warm-up or the previous pass is not collected on its clock
            gc.collect()
            spark._jvm.System.gc()
            tracer.new_pass()
            with tracer.span(f"{workload}/pass") as pass_span:
                c = tree_cpu_s()
                t, t_ms = time.perf_counter(), time.time() * 1e3
                n, bad = wl.run_pass(tracer)
                walls.append(time.perf_counter() - t)
                pass_ms.append((t_ms, time.time() * 1e3))
                pass_cpu.append(tree_cpu_s() - c)
            bad_out, extra = wl.after_pass(traced)
            attempted, failed = attempted + n, failed + bad + bad_out
            if traced:
                jobs, stages = status_store(spark)
                row = pass_layer_metrics(tracer, pass_span, jobs, stages, cores)
                row.update(extra, cpu_s=pass_cpu[-1])
                layer_rows.append(row)
        rss = peak_rss_mb()
        jobs, stages = status_store(spark)
        counts = [spark_counts(jobs, stages, lo, hi) for lo, hi in pass_ms]
        if traced:
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{workload}-{seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    meta.update(
        loadavg_after=os.getloadavg(), session_s=session_s, warmup_s=warmup_s, peak_rss_mb=rss,
        passes=len(walls), pass_walls_s=walls, pass_cpu_s=pass_cpu, pass_jobs_tasks=counts,
    )
    if traced:
        metrics = {
            name: (statistics.median(row[name] for row in layer_rows), unit)
            for name, (unit, _) in PER_LAYER.items()
        }
        metrics["session.start_s"] = (session_s, "s")
        metrics["peak_rss_mb"] = (rss, "MB")
        metrics["trace.wall_s"] = (statistics.median(walls), "s")
        metrics["trace.overhead_s"] = (tracer.overhead_s / len(walls), "s")
    else:
        values = {
            "setup_s": setup_s,
            "spark_jobs": statistics.median(j for j, _ in counts),
            "spark_tasks": statistics.median(t for _, t in counts),
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return meta, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    meta, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    name = f"result-{args.workload}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(ROOT, ".perfbench", name), "w") as fh:
        json.dump({"meta": meta, **result}, fh, indent=1)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
