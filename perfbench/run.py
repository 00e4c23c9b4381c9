"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The benchmark writes its input tables
(``datagen``) into a scratch directory of its own, starts the engine's
session as ``session.get_spark(cpus=<half the usable cores>)`` builds it,
and drives one workload (``workloads.py``) in a closed loop: each query,
or each micro-batch, starts when the previous one finished.

A run has three parts:

1. set-up: session start and a warm-up pass that runs every query once
   and collects its result (plus, where the workload asks for it, more
   untimed passes); the results are then compared with the DuckDB
   oracle (``correctness.py``), outside the timed set-up;
2. timed passes over the queries, in an order permuted by ``--seed``,
   until ``--seconds`` have passed and the workload's minimum number of
   passes has run (a started pass always finishes);
3. with ``--trace 1`` the timed passes run with spans, job tags, the
   Spark event log and layer probes for half of ``--seconds``; an
   untraced reference session then runs the other half, for the tracing
   overhead, and on the streaming workload one pass at ``local[1]`` gives
   the single-threaded baseline.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``). Details
(per-query walls, spans, top stages, host and version facts) go to
``perfbench/out/<workload>/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import types  # noqa: E402
from dataclasses import asdict, dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import (  # noqa: E402
    geometric_mean_of_medians, median, sum_of_medians, valid_name, valid_unit)
from workloads import WORKLOADS  # noqa: E402

NOOP = "noop"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "big_data_exercise_spark", "session.py"))


def source_digest() -> str:
    """sha256 over the engine's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "big_data_exercise_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


@dataclass
class Passes:
    """What the timed passes measured: per-pass wall and CPU seconds,
    (query, wall) and (query, CPU) per execution, data-carrying
    micro-batch reports and (query, triggerExecution ms) per batch."""

    walls: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    query_walls: list[tuple[str, float]] = field(default_factory=list)
    query_cpu: list[tuple[str, float]] = field(default_factory=list)
    batches: list[dict] = field(default_factory=list)
    query_batch_ms: list[tuple[str, float]] = field(default_factory=list)
    # The JVM's cumulative JIT-compile ms, GC ms and loaded classes,
    # before the first pass and after each pass.
    jvm_counters: list[tuple[int, int, int]] = field(default_factory=list)

    @property
    def pass_s(self) -> float:
        """A pass assembled from each query's median wall."""
        return sum_of_medians(self.query_walls)

    @property
    def pass_cpu_s(self) -> float:
        return sum_of_medians(self.query_cpu)

    @property
    def latency_ms(self) -> float:
        """Typical wait of one unit of work: the geometric mean over
        queries of each query's median micro-batch trigger time or, for
        batch queries, median wall."""
        if self.query_batch_ms:
            return geometric_mean_of_medians(self.query_batch_ms)
        return 1e3 * geometric_mean_of_medians(self.query_walls)

    @property
    def jit_s(self) -> float:
        """Median JIT-compile seconds per pass (compiler threads' time)."""
        c = self.jvm_counters
        return median(b[0] - a[0] for a, b in zip(c, c[1:])) / 1e3


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """One benchmark run: owns the scratch directory, the sessions it
    starts and everything measured."""

    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.out = os.path.join(HERE, "out", args.workload)
        self.data = os.path.join(self.work, "data")
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.capture = None
        self.record: dict = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": None, "loadavg_start": list(os.getloadavg()),
        }

    # ---------------------------------------------------------- set-up
    def prepare(self) -> float:
        """Scratch dirs, environment and input tables; returns the data
        generation seconds, which set-up time excludes."""
        stale = os.path.join(HERE, ".work")
        for entry in os.listdir(stale) if os.path.isdir(stale) else ():
            if entry.isdigit() and not os.path.exists(f"/proc/{entry}"):
                shutil.rmtree(os.path.join(stale, entry), ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(self.out, exist_ok=True)
        # Inherited by the JVM, Spark's Python workers and spark-submit's
        # own launcher JVM, so that none of them writes outside the checkout.
        self.record["env_set"] = {
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if self.workload.streaming:
            self.record["env_set"]["SPARK_GRAFT_STREAM_FEED_FILES"] = str(self.workload.feed_files)
        os.environ.update(self.record["env_set"])
        tempfile.tempdir = tmp
        import datagen

        t0 = time.perf_counter()
        self.record["data_rows"] = datagen.generate(self.data, self.workload.sf)
        return time.perf_counter() - t0

    def bench_conf(self, trace: bool) -> dict[str, str]:
        """Spark confs the benchmark sets beyond ``get_spark``'s own."""
        java_opts = (f"-Djava.io.tmpdir={self.work}/tmp "
                     f"-Dderby.stream.error.file={self.work}/derby.log -XX:-UsePerfData")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": java_opts,
            # Explicit both ways: the first session's confs become JVM
            # system properties, which later sessions would inherit.
            "spark.eventLog.enabled": str(trace).lower(),
        }
        if trace:
            conf.update({
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.out, "eventlog")

    def start_session(self, cpus: int, trace: bool) -> float:
        from big_data_exercise_spark.session import get_spark

        import tracing

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus, extra_conf=self.bench_conf(trace))
        wall = time.perf_counter() - t0
        self.capture = tracing.make_stream_capture()
        self.spark.streams.addListener(self.capture)
        return wall

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown_jvm(self) -> None:
        """Stop the gateway JVM and wait for it (it exits when its stdin
        closes); Spark's Python workers are its children."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # ---------------------------------------------------------- queries
    def isolate(self) -> None:
        """Drop what the last query cached before the next one starts:
        clearCache, then Python gc (py4j references), then JVM gc so the
        ContextCleaner releases checkpointed blocks."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def run_query(self, name: str, collect: bool, tracer=None, label: str = ""):
        """Build and materialise one query. Returns (wall seconds, CPU
        seconds of the whole process tree, result frame or None,
        micro-batch reports); raises what the engine raised."""
        import probes
        import tracing

        spec = self.specs[name]
        if tracer is not None:
            self.spark.sparkContext.setJobDescription(tracing.job_tag(label, name))
        try:
            cpu0 = probes.tree_cpu_s([os.getpid()])
            t0 = time.perf_counter()
            with _maybe(tracer, "build", query=name) as build_span:
                df = spec.build(self.spark, self.data)
            with _maybe(tracer, "materialise", query=name):
                if collect:
                    result = df.toPandas()
                else:
                    df.write.format(NOOP).mode("overwrite").save()
                    result = None
            wall = time.perf_counter() - t0
            cpu = probes.tree_cpu_s([os.getpid()]) - cpu0
        finally:
            if tracer is not None:
                self.spark.sparkContext.setJobDescription(None)
        batches = []
        if self.workload.streaming:
            if not self.capture.wait_all_terminated():
                raise RuntimeError("stream termination not reported by the listener")
            started, terminated, progress = self.capture.take()
            batches = tracing.data_batches(progress)
            if tracer is not None:
                tracing.add_stream_spans(tracer, started, terminated, progress, build_span.id)
            if len(batches) < self.workload.feed_files:
                raise RuntimeError(
                    f"listener saw {len(batches)} data batches, feed has "
                    f"{self.workload.feed_files} files")
        return wall, cpu, result, batches

    def attempt(self, name: str, collect: bool, tracer=None, label: str = ""):
        """``run_query`` counted against ``attempted``; a raised error is
        recorded as a failure and gives None."""
        self.attempted += 1
        try:
            with _maybe(tracer, "query", query=name, **{"pass": label}):
                return self.run_query(name, collect, tracer, label)
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            self.failures.append(f"{label} {name}: {type(exc).__name__}: {str(exc)[:300]}")
            log(self.failures[-1])
            if self.workload.streaming:
                self.capture.take()  # drop the failed stream's reports
            return None
        finally:
            self.isolate()

    def warmup(self, tracer=None) -> dict:
        """Untimed passes in registry order; the first collects and
        returns the results."""
        results = {}
        for i in range(self.workload.warmup_passes):
            label = f"warmup{i}"
            with _maybe(tracer, "pass", **{"pass": label}):
                for name in self.workload.queries:
                    got = self.attempt(name, collect=i == 0, tracer=tracer, label=label)
                    if got is not None and i == 0:
                        results[name] = got[2]
        return results

    def check(self, results: dict) -> None:
        import correctness

        checker = correctness.Checker(self.data, self.record["data_rows"])
        try:
            for name, frame in results.items():
                reason = checker.check(self.specs[name].oracle, frame)
                if reason is not None:
                    self.failures.append(f"wrong result {name}: {reason}")
                    log(self.failures[-1])
        finally:
            checker.close()

    def timed_passes(self, seconds: float, tracer=None, tag: str = "p",
                     min_passes: int | None = None) -> Passes:
        """Closed-loop passes until ``seconds`` elapse and at least
        ``min_passes`` (by default the workload's minimum) have run."""
        if min_passes is None:
            min_passes = self.workload.min_passes
        rng = random.Random(self.args.seed)
        out = Passes()
        out.jvm_counters.append(self.jvm_counters())
        t0 = time.perf_counter()
        while len(out.walls) < min_passes or time.perf_counter() - t0 < seconds:
            label = f"{tag}{len(out.walls)}"
            order = list(self.workload.queries)
            rng.shuffle(order)
            wall = cpu = 0.0
            with _maybe(tracer, "pass", **{"pass": label}):
                for name in order:
                    got = self.attempt(name, collect=False, tracer=tracer, label=label)
                    if got is not None:
                        wall += got[0]
                        cpu += got[1]
                        out.query_walls.append((name, got[0]))
                        out.query_cpu.append((name, got[1]))
                        out.batches.extend(got[3])
                        out.query_batch_ms.extend((name, ms) for ms in _trigger_ms(got[3]))
            out.walls.append(wall)
            out.cpu.append(cpu)
            out.jvm_counters.append(self.jvm_counters())
        return out

    def jvm_counters(self) -> tuple[int, int, int]:
        """JIT-compile ms, GC ms and loaded classes of the JVM so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return (int(mf.getCompilationMXBean().getTotalCompilationTime()), int(gc_ms),
                int(mf.getClassLoadingMXBean().getTotalLoadedClassCount()))

    # ---------------------------------------------------------- runs
    def load_engine(self) -> None:
        sys.path.insert(0, ROOT)
        from big_data_exercise_spark.plans.registry import all_queries

        self.specs = all_queries()

    def warm_native(self) -> bool:
        from big_data_exercise_spark.multimodal import _native

        return _native.get_lib() is not None

    def untraced(self, gen_s: float) -> dict:
        self.load_engine()
        session_s = self.start_session(self.record["spark_cpus"], trace=False)
        self.record["native_loaded"] = self.warm_native()
        results = self.warmup()
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        self.check(results)
        passes = self.timed_passes(self.args.seconds)
        self.record.update(session_s=session_s, passes=asdict(passes),
                           peak_rss_mb=self.peak_rss())
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (passes.pass_s, "s"),
            "latency_ms_p50": (passes.latency_ms, "ms"),
        }

    def peak_rss(self) -> float:
        import probes

        return probes.peak_rss_mb([os.getpid(), self.jvm_pid()])

    def traced(self) -> dict:
        import layers
        import probes
        import tracing

        self.load_engine()
        shutil.rmtree(self.event_log_dir, ignore_errors=True)
        os.makedirs(self.event_log_dir)
        tracer = tracing.Tracer(f"{self.args.workload}-{self.args.seed}")
        seen_tables: set[str] = set()
        with tracer.span("run", workload=self.args.workload):
            with tracer.span("session_start"):
                start_s = self.start_session(self.record["spark_cpus"], trace=True)
            self.record["native_loaded"] = self.warm_native()
            with tracing.wrapped_load_table(tracer, seen_tables):
                self.check(self.warmup(tracer))
                passes = self.timed_passes(
                    self.args.seconds / 2, tracer, tag=layers.TIMED_PASS_PREFIX)
            scan_s = self.scan_probes(sorted(seen_tables))
            kernels = probes.kernel_probes(self.args.seed)
            rss = self.peak_rss()
        self.stop_session()
        ref = self.reference_passes()
        local1_ms = self.local1_batch_ms() if self.workload.streaming else []
        jobs, stages = tracing.fold_event_log(tracing.read_event_log(self.event_log_dir))
        metrics, top_stages = layers.per_layer(
            tracer, jobs, stages, len(passes.walls), passes.batches)
        metrics.update({
            "session.start_s": (start_s, "s"),
            "tables.scan_s": (scan_s, "s"),
            **{k: (v, "ms" if k.endswith("_ms") else "bool") for k, v in kernels.items()},
            "streaming.local1_batch_ms_p50": (median(local1_ms), "ms"),
            "process.pass_cpu_s": (passes.pass_cpu_s, "s"),
            "jvm.jit_s": (passes.jit_s, "s"),
            "trace.pass_s": (passes.pass_s, "s"),
            "trace.overhead_s": (passes.pass_s - ref.pass_s, "s"),
            "process.peak_rss_mb": (rss, "MB"),
        })
        self.record.update(
            passes=asdict(passes), reference_passes=asdict(ref),
            tables_read=sorted(seen_tables), local1_batch_ms=local1_ms)
        _write_json(os.path.join(self.out, "spans.json"), tracer.dump())
        _write_json(os.path.join(self.out, "top_stages.json"), top_stages)
        return metrics

    def scan_probes(self, names: list[str]) -> float:
        """load_table -> noop for each table the workload read."""
        from big_data_exercise_spark.tables import load_table

        total = 0.0
        for name in names:
            t0 = time.perf_counter()
            load_table(self.spark, self.data, name).write.format(NOOP).mode("overwrite").save()
            total += time.perf_counter() - t0
        return total

    def reference_passes(self) -> Passes:
        """Untraced session in the same process: warm-up, then timed
        passes; the baseline for the tracing overhead."""
        self.start_session(self.record["spark_cpus"], trace=False)
        try:
            self.warmup()
            return self.timed_passes(self.args.seconds / 2, tag="r")
        finally:
            self.stop_session()

    def local1_batch_ms(self) -> list[float]:
        """One pass of the streaming workload on a single core."""
        self.start_session(1, trace=False)
        try:
            return _trigger_ms(self.timed_passes(0, tag="s", min_passes=1).batches)
        finally:
            self.stop_session()


def spark_cpus(nproc: int) -> int:
    """Task threads of the benchmark's session: half the usable cores,
    so that the JVM's JIT and GC threads, Spark's Python workers and the
    driver process run beside the tasks instead of queueing behind them."""
    return max(1, nproc // 2)


def _maybe(tracer, name: str, **attrs):
    """``tracer.span(...)`` when tracing, else a context yielding a span
    stand-in without an id."""
    if tracer is None:
        return contextlib.nullcontext(types.SimpleNamespace(id=None))
    return tracer.span(name, **attrs)


def _trigger_ms(batches: list[dict]) -> list[float]:
    return [float(b["durationMs"]["triggerExecution"]) for b in batches]


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, default=str)


def versions() -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        log(f"engine package big_data_exercise_spark not found under {ROOT}")
        return 2
    import probes

    bench = Bench(args)
    bench.record["nproc"] = probes.host_cpus()
    bench.record["spark_cpus"] = spark_cpus(bench.record["nproc"])
    try:
        gen_s = bench.prepare()
        metrics = bench.traced() if args.trace else bench.untraced(gen_s)
        bench.record.update(
            versions=versions(), git_sha=git_sha(), source_sha256=source_digest(),
            spark_conf_set=bench.bench_conf(bool(args.trace)),
            env={k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            loadavg_end=list(os.getloadavg()), failures=bench.failures,
            attempted=bench.attempted, metrics=metrics)
        _write_json(os.path.join(bench.out, f"run-trace{args.trace}.json"), bench.record)
    finally:
        bench.shutdown_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
    bad = [k for k, (_, unit) in metrics.items() if not (valid_name(k) and valid_unit(unit))]
    if bad:
        raise ValueError(f"metric names or units outside the allowed pattern: {bad}")
    failed = len(bench.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
