"""Closed-loop benchmark of the pipeline engine: one client, one Spark session.

    python3 perfbench/run.py --cores 2 --shuffle-partitions 2 \\
        --workload catalog_short --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --cores 2 --shuffle-partitions 2 report --seed 1 --seconds 15

A run generates its inputs from the seed, starts the session, checks every
op's output, warms up for a fixed number of passes, then repeats the op mix
in whole passes for at least ``--seconds``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). ``report`` runs both for each workload and prints the layer
table. See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
    "jvm_live_heap_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_ms_per_op": "ms",
    "session.jit_ms": "ms",
    "plans.build_ms_per_op": "ms",
    "plans.build_jobs_per_op": "count",
    "spark.analysis_ms_per_op": "ms",
    "spark.optimization_ms_per_op": "ms",
    "spark.planning_ms_per_op": "ms",
    "spark.exec_ms_per_op": "ms",
    "spark.core_busy_frac": "frac",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_cpu_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B",
    "sources.read_ms_per_op": "ms",
    "sources.read_jobs_per_op": "count",
    "operators.transform_ms_per_op": "ms",
    "operators.quality_ms_per_op": "ms",
    "sinks.write_ms_per_op": "ms",
    "sinks.files_per_op": "count",
    "sinks.bytes_per_row": "B",
    "runner.self_ms_per_op": "ms",
}

# Warm catalog ops that finish in under a second: fixed overhead (plan
# construction, per-read schema inference, Catalyst, job launch) dominates.
CATALOG_SHORT = [
    "q01_pricing_summary",
    "q05_transform_chain",
    "q06_quality_checks",
    "q10_events_json",
    "q23_rollup",
    "q31_small_quantity_revenue",
    "q106_temperature_rebalance",
    "q143_linear_attribution",
]
ETL_KINDS = ["partitioned", "warehouse"]
WORKLOADS = ["catalog_short", "etl_pipeline"]
DEFAULT_SF = 0.1

# A fixed pass count keeps set-up time from jumping by a whole pass between
# runs; the last pass is then checked against the best earlier one.
WARMUP_PASSES = 4
WARMUP_FLAT = 0.97  # the last warm-up pass no faster than 97% of the best earlier one: warm
WARMING_FLAG = 1.10  # first-half window passes this much slower than the second half
P90_MIN_SAMPLES = 100  # so that at least 10 samples lie beyond the 90th percentile
DRIVER_MEMORY = "3g"


# -- statistics -------------------------------------------------------------


def percentile(values: list[float], q: float) -> float | None:
    """The q-quantile (0 < q < 1, inclusive method), or None when fewer than
    ten samples would lie beyond it."""
    if len(values) * (1.0 - q) < 10.0 - 1e-9:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def warming_up(pass_times: list[float]) -> bool:
    """True when the window's first half of passes ran slower than its
    second half by more than WARMING_FLAG: the window still shows warm-up."""
    if len(pass_times) < 2:
        return False
    half = len(pass_times) // 2
    return statistics.median(pass_times[:half]) > WARMING_FLAG * statistics.median(pass_times[half:])


@dataclass
class Tally:
    """Attempted and failed ops; every failure (exception, wrong output,
    wrong count) counts once against the ops attempted."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, name: str, fn) -> bool:
        self.attempted += 1
        try:
            ok, why = fn()
        except Exception as exc:  # noqa: BLE001 — a failing op is a measurement, not a crash
            ok, why = False, f"{type(exc).__name__}: {exc}"
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {why}"[:300])
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# -- JVM probes -------------------------------------------------------------


class Jvm:
    """CPU, GC, JIT and heap readings of the session's JVM."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()))

    def jit_ms(self) -> float:
        return float(self._mf.getCompilationMXBean().getTotalCompilationTime())

    def live_heap_mb(self) -> float:
        """Least heap in use over three forced full GCs a moment apart: the
        cleaner and listener threads free some objects only after a GC."""
        used = []
        for _ in range(3):
            self._jvm.java.lang.System.gc()
            used.append(self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.2)
        return min(used)


def start_session(args, work: str, traced: bool):
    from universal_aws_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # The status store keeps finished jobs, stages and SQL executions
        # even with the UI off. Small caps let it fill during warm-up, so
        # the live heap read after the window does not grow with the number
        # of ops a run happened to fit in.
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.sql.ui.retainedExecutions": "50",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- workloads ----------------------------------------------------------------


class CatalogShort:
    """Oracled sub-second catalog queries over the seeded star schema."""

    def __init__(self, spark, work: str, seed: int, sf: float):
        from datagen import write_tables

        self.spark = spark
        self.data = os.path.join(work, "data")
        write_tables(self.data, seed, sf)
        self.mix = list(CATALOG_SHORT)
        self.traced = False
        self.last_df = None
        self.phases: list[dict[str, float]] = []

    def check(self, tally: Tally) -> None:
        """Hash-match every query in the mix against its DuckDB oracle."""
        from tests.oracle import compare
        from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

        for name in self.mix:
            spec = QUERIES[name]
            tally.record(f"oracle {name}", lambda spec=spec: compare(self.spark, self.data, spec.fn, spec.oracle))

    def op(self, name: str, tracer) -> tuple[bool, str]:
        from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

        self.last_df = QUERIES[name].fn(self.spark, self.data)
        tracer.call("spark.action", self.last_df.write.format("noop").mode("overwrite").save)
        return True, ""

    def after_op(self, name: str) -> None:
        """Traced runs: read the op's Catalyst phases. This plans the query
        once more, so it runs outside the op's span and latency."""
        from tracing import catalyst_phases

        if self.traced:
            self.phases.append(catalyst_phases(self.last_df))

    def finish(self, tally: Tally) -> None:
        pass

    def layer_extras(self, n_ops: int) -> dict[str, float]:
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            out[f"spark.{phase}_ms_per_op"] = sum(p[phase] for p in self.phases) / max(n_ops, 1)
        return out


class EtlPipeline:
    """``PipelineRunner.run`` over a seeded dirty JSON orders feed, alternating
    a year/month partitioned destination and a manifest-committed warehouse
    destination."""

    def __init__(self, spark, work: str, seed: int, sf: float):
        from datagen import write_etl_inputs

        self.spark = spark
        self.inputs = write_etl_inputs(os.path.join(work, "feed"), seed, sf)
        self.dest_root = os.path.join(work, "dest")
        self.mix = list(ETL_KINDS)
        self.traced = False
        self.files = 0
        self.bytes = 0
        self.rows = 0
        self.cfgs = {kind: self._config(kind) for kind in ETL_KINDS}

    def _config(self, kind: str):
        from universal_aws_data_pipeline_spark.config.model import SourceConfig

        if kind == "partitioned":
            dest = {"path": os.path.join(self.dest_root, kind), "partition_by": ["year", "month"]}
            path = self.inputs.clean_glob
        else:
            dest = {
                "path": os.path.join(self.dest_root, kind),
                "dist_key": "customer_id",
                "sort_keys": ["order_date"],
                "max_errors": 10,
                "commit": "manifest",
            }
            path = self.inputs.all_glob
        cfg = SourceConfig.from_dict(
            {
                "name": "orders_feed",
                "type": "file",
                "data_format": "json",
                "input_path": path,
                "schema": {
                    "mapping": {
                        "order_id": "id",
                        "customer_id": "cust",
                        "status": "status",
                        "total": "amount",
                        "order_date": "order_date",
                        "priority": "priority",
                    },
                    "required": ["order_id", "customer_id"],
                    "transformations": [
                        {"field": "order_id", "type": "long"},
                        {"field": "customer_id", "type": "long"},
                        {"field": "total", "type": "double"},
                        {"field": "status", "type": "trim"},
                        {"field": "priority", "type": "trim"},
                        {"field": "order_date", "type": "date", "format": "yyyy-MM-dd"},
                    ],
                },
                "partition_source_column": "order_date",
                "quality_checks": [
                    {"type": "not_null", "columns": ["order_id", "customer_id", "order_date"]},
                    {"type": "unique", "columns": ["order_id"]},
                    {"type": "accepted_values", "columns": ["status"], "values": ["F", "O", "P"]},
                    {"type": "range", "columns": ["total"], "min_value": 0},
                ],
                "metric_thresholds": [{"metric": "error_count", "threshold": 10, "comparison": "gt"}],
                "retry": {"attempts": 1},
                "destination": dest,
            }
        )
        if kind == "warehouse":
            # SourceConfig.from_dict never reads a "commit" key, so the
            # manifest protocol has to be selected on the parsed config.
            cfg.destination.commit = "manifest"
        return cfg

    def _expect(self, kind: str) -> tuple[int, int]:
        errors = self.inputs.malformed if kind == "warehouse" else 0
        return self.inputs.rows - self.inputs.null_keys, errors

    def op(self, kind: str, tracer) -> tuple[bool, str]:
        from universal_aws_data_pipeline_spark.runner import PipelineRunner

        res = PipelineRunner(self.spark).run(self.cfgs[kind])
        got = (res.status, res.record_count, res.error_count)
        want = ("success", *self._expect(kind))
        return got == want, f"(status, record_count, error_count) = {got}, expected {want}: {res.error}"

    def check(self, tally: Tally) -> None:
        """Nothing to do up front: every op, in warm-up and in the window,
        checks its own RunResult, and ``finish`` reads the tables back."""

    def _data_dir(self, kind: str) -> str:
        path = self.cfgs[kind].destination.path
        if kind == "warehouse":
            with open(os.path.join(path, "_manifest.json"), encoding="utf-8") as fh:
                return os.path.join(path, json.load(fh)["current"])
        return path

    def after_op(self, kind: str) -> None:
        """Traced runs: count the files and bytes the write left behind."""
        if not self.traced:
            return
        for dirpath, _, names in os.walk(self._data_dir(kind)):
            for n in names:
                if n.startswith("part-"):
                    self.files += 1
                    self.bytes += os.path.getsize(os.path.join(dirpath, n))
        self.rows += self._expect(kind)[0]

    def finish(self, tally: Tally) -> None:
        """Read each destination back once and match the surviving keys."""
        from pyspark.sql import functions as F

        from universal_aws_data_pipeline_spark.sinks.tables import read_manifest_table

        def read_back(kind: str) -> tuple[bool, str]:
            path = self.cfgs[kind].destination.path
            df = read_manifest_table(self.spark, path) if kind == "warehouse" else self.spark.read.parquet(path)
            n, key_sum = df.agg(F.count(F.lit(1)), F.sum("order_id")).first()
            want = (self._expect(kind)[0], self.inputs.key_sum)
            return (n, key_sum) == want, f"(rows, sum(order_id)) = {(n, key_sum)}, expected {want}"

        for kind in self.mix:
            tally.record(f"read back {kind}", lambda kind=kind: read_back(kind))

    def layer_extras(self, n_ops: int) -> dict[str, float]:
        return {
            "sinks.files_per_op": self.files / max(n_ops, 1),
            "sinks.bytes_per_row": self.bytes / max(self.rows, 1),
        }


def make_workload(name: str, spark, work: str, seed: int, sf: float):
    return {"catalog_short": CatalogShort, "etl_pipeline": EtlPipeline}[name](spark, work, seed, sf)


# -- one run ----------------------------------------------------------------


def run_pass(wl, rng: random.Random, tally: Tally, tracer, lat: dict[str, list[float]] | None = None) -> float:
    """One pass over the mix in a seed-shuffled order; returns its wall time
    and appends each op's latency to ``lat[op name]``."""
    order = list(wl.mix)
    rng.shuffle(order)
    t0 = time.perf_counter()
    for name in order:
        if wl.traced:
            tracer.op += 1
        a = time.perf_counter()
        tally.record(name, lambda: tracer.call("op", wl.op, name, tracer))
        if lat is not None:
            lat.setdefault(name, []).append(time.perf_counter() - a)
        wl.after_op(name)
    return time.perf_counter() - t0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: the share a hypervisor
    took away from this machine while the window ran."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run(args, work: str) -> tuple[Tally, dict]:
    traced = bool(args.trace)
    sys.path[:0] = [ROOT, HERE]
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    # no /tmp/hsperfdata_* file from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    load = [os.getloadavg()[0]]
    sf = args.sf if args.sf is not None else DEFAULT_SF

    t_session = time.perf_counter()
    spark = start_session(args, work, traced)
    session_start_s = time.perf_counter() - t_session
    stages = {"imports_s": t_session - T_START, "session_s": session_start_s}
    try:
        jvm = Jvm(spark)
        rng = random.Random(args.seed)
        tally = Tally()
        t = time.perf_counter()
        wl = make_workload(args.workload, spark, work, args.seed, sf)
        stages["inputs_s"], t = time.perf_counter() - t, time.perf_counter()
        wl.check(tally)
        stages["check_s"] = time.perf_counter() - t
        from tracing import Tracer, install

        tracer = Tracer(spark=spark)  # op stays -1, so no span is kept, until a traced window
        warm = [run_pass(wl, rng, tally, tracer) for _ in range(WARMUP_PASSES)]
        if traced:
            install(tracer)
            wl.traced = True
        setup_s = time.perf_counter() - T_START

        gc0, jit0, (steal0, ticks0) = jvm.gc_ms(), jvm.jit_ms(), host_cpu_ticks()
        lat: dict[str, list[float]] = {}
        passes: list[float] = []
        pass_cpu: list[float] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            cpu0 = jvm.cpu_s() + time.process_time()
            passes.append(run_pass(wl, rng, tally, tracer, lat))
            pass_cpu.append(jvm.cpu_s() + time.process_time() - cpu0)
        window_s = time.perf_counter() - t0
        if traced:
            tracer.op = -1  # spans after the window are not kept
        gc_ms, jit_ms = jvm.gc_ms() - gc0, jvm.jit_ms() - jit0
        steal1, ticks1 = host_cpu_ticks()
        steal_frac = (steal1 - steal0) / max(ticks1 - ticks0, 1)
        heap_mb = jvm.live_heap_mb()
        wl.finish(tally)
    finally:
        stop_session(spark)
    load.append(os.getloadavg()[0])

    # Rates and CPU come from the median pass, so one pass slowed by a
    # neighbour on the host moves them less than a window total would. The
    # latency median is taken per op type and averaged over the mix: the
    # median of a mix of op types with different latencies lands between
    # their clusters and jumps with the last sample of either.
    all_lat = [x for xs in lat.values() for x in xs]
    n, per_pass = len(all_lat), len(wl.mix)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": per_pass / statistics.median(passes),
        "op_p50_s": statistics.fmean(statistics.median(xs) for xs in lat.values()),
        "cpu_s_per_op": statistics.median(pass_cpu) / per_pass,
        "jvm_live_heap_mb": heap_mb,
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "cores": args.cores,
        "ops": n,
        "window_s": window_s,
        "pass_s": passes,
        "setup_stages_s": stages,
        "warmup_pass_s": warm,
        "warmup_flat": warm[-1] > WARMUP_FLAT * min(warm[:-1]),
        "op_p90_s": percentile(all_lat, 0.9),
        "op_p50_by_name_s": {k: statistics.median(v) for k, v in sorted(lat.items())},
        "failed_frac": tally.failed_frac,
        "errors": tally.errors,
        "still_warming": warming_up(passes),
        "loadavg_1m": load,
        "steal_frac": steal_frac,
        "end_to_end": e2e,
    }
    if traced:
        from tracing import layer_metrics, read_event_log

        layers = {
            "session.start_s": session_start_s,
            "session.gc_ms_per_op": gc_ms / n,
            "session.jit_ms": jit_ms,
            "spark.analysis_ms_per_op": 0.0,
            "spark.optimization_ms_per_op": 0.0,
            "spark.planning_ms_per_op": 0.0,
            "sinks.files_per_op": 0.0,
            "sinks.bytes_per_row": 0.0,
        }
        layers.update(layer_metrics(tracer.spans, read_event_log(os.path.join(work, "eventlog")), n, args.cores))
        layers.update(wl.layer_extras(n))
        info["per_layer"] = layers
        info["spans"] = tracer.spans
    info["session.jit_ms"] = jit_ms
    return tally, info


# -- output -----------------------------------------------------------------


def result_line(tally: Tally, metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps(
        {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    )


def print_human(info: dict) -> None:
    print(
        f"# {info['workload']} seed={info['seed']} sf={info['sf']} cores={info['cores']} "
        f"ops={info['ops']} window={info['window_s']:.2f}s loadavg_1m={[round(x, 2) for x in info['loadavg_1m']]} "
        f"cpu_steal={info['steal_frac']:.1%}"
    )
    for name, value in info["end_to_end"].items():
        print(f"{name:>24} {value:12.6g} {E2E_UNITS[name]}")
    p90 = info["op_p90_s"]
    print(f"{'op_p90_s':>24} {p90:12.6g} s" if p90 is not None else f"{'op_p90_s':>24}  (needs >= {P90_MIN_SAMPLES} ops)")
    print(f"{'failed_frac':>24} {info['failed_frac']:12.6g} ratio")
    print(f"{'session.jit_ms':>24} {info['session.jit_ms']:12.6g} ms (inside the window)")
    print(f"# set-up stages (s): { {k: round(v, 2) for k, v in info['setup_stages_s'].items()} }")
    print(f"# warm-up passes (s): {[round(t, 3) for t in info['warmup_pass_s']]}")
    print(f"# window passes (s): {[round(t, 3) for t in info['pass_s']]}")
    print(f"# median op latency (s): { {k: round(v, 3) for k, v in info['op_p50_by_name_s'].items()} }")
    if not info["warmup_flat"]:
        print(f"# WARNING: the last warm-up pass was still more than {1 - WARMUP_FLAT:.0%} faster than the best earlier one")
    if info["still_warming"]:
        print("# WARNING: the window still shows warm-up (first-half passes slower than second-half)")
    if "per_layer" in info:
        for name, unit in LAYER_UNITS.items():
            print(f"{name:>32} {info['per_layer'][name]:14.6g} {unit}")
    for err in info["errors"]:
        print(f"# FAILED {err}")


def write_out(out_dir: str, info: dict) -> None:
    from tracing import dump_spans

    os.makedirs(out_dir, exist_ok=True)
    spans = info.pop("spans", None)
    if spans is not None:
        dump_spans(spans, os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "result.json"), "w", encoding="utf-8") as fh:
        json.dump(info, fh, indent=1)


def report(args) -> int:
    """Untraced and traced run per workload, same seed; prints each layer's
    self time per op, the unattributed rest and the tracing overhead."""
    from tracing import layer_table, load_spans

    work = os.path.join(WORK_ROOT, f"report-{os.getpid()}")
    try:
        for wl in args.workload or WORKLOADS:
            infos = {}
            for trace in (0, 1):
                out = os.path.join(work, f"{wl}-{trace}")
                cmd = [
                    sys.executable, os.path.abspath(__file__), "--cores", str(args.cores),
                    "--shuffle-partitions", str(args.shuffle_partitions), "--workload", wl,
                    "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace), "--out", out,
                ]  # fmt: skip
                if args.sf is not None:
                    cmd += ["--sf", str(args.sf)]
                subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
                with open(os.path.join(out, "result.json"), encoding="utf-8") as fh:
                    infos[trace] = json.load(fh)
            plain, traced = infos[0], infos[1]
            spans = load_spans(os.path.join(work, f"{wl}-1", "spans.jsonl"))
            op_ms = sum(s.end - s.start for s in spans if s.name == "op") * 1000.0 / traced["ops"]
            print(f"## {wl}: {traced['ops']} traced ops, {op_ms:.1f} ms wall per op")
            print(f"{'layer':<14} {'self ms/op':>11} {'share':>7}")
            for layer, ms in layer_table(spans, traced["ops"]):
                print(f"{layer:<14} {ms:11.2f} {ms / op_ms:7.1%}")
            over = traced["end_to_end"]["op_p50_s"] - plain["end_to_end"]["op_p50_s"]
            base = plain["end_to_end"]["op_p50_s"]
            print(f"tracing overhead (op_p50_s traced - untraced): {over * 1000.0:+.1f} ms ({over / base:+.1%} of {base * 1000.0:.1f} ms)")
            for name, unit in LAYER_UNITS.items():
                print(f"  {name:<32} {traced['per_layer'][name]:14.6g} {unit}")
    finally:
        remove_work(work)
    return 0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--cores", type=int, required=True, help="local[N] task threads")
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--sf", type=float, default=None, help="scale factor of the generated inputs")
    sub = p.add_subparsers(dest="cmd")
    rep = sub.add_parser("report", help="render the layer table of a traced run per workload")
    rep.add_argument("--workload", action="append", choices=WORKLOADS)
    rep.add_argument("--seed", type=int, default=1)
    rep.add_argument("--seconds", type=float, default=15)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=None, help="directory for result.json and spans.jsonl")
    args = p.parse_args(argv)
    if args.cmd is None and args.workload is None:
        p.error("--workload is required")
    return args


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run still owns a directory there


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the finally blocks that stop the JVM and clean up


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if args.cmd == "report":
        return report(args)
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        tally, info = run(args, work)
    finally:
        remove_work(work)
    if args.out:
        write_out(os.path.abspath(args.out), dict(info))
    print_human(info)
    if args.trace:
        print(result_line(tally, info["per_layer"], LAYER_UNITS))
    else:
        print(result_line(tally, info["end_to_end"], E2E_UNITS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
