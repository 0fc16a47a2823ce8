#!/usr/bin/env python3
"""Benchmark of the daily dependency-links job, end to end and per layer.

    python3 perfbench/run.py --workload day_typical --seed 1 --seconds 15 --trace 0

Run from the repository root. One run generates the workload's span files
from the seed, starts a Spark session the way the CLI does (only the
master and the JVM heap are set to fit the machine), and calls the
production CLI path, ``zipkin_dependencies_spark.__main__.main([day])``,
in-process with the workload's ``STORAGE_TYPE``, ``SPAN_FORMAT``,
``SPANS_PATH`` and ``LINKS_PATH``. After every invocation the day
partition it wrote is read back and compared with the links the generator
expects.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: self times from cumulative prefixes of the job's public
call chain (each forced with a ``noop`` write), Spark's SQL and stage
metrics of the full invocation, and JVM and Python-worker usage from /proc.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Work files go under
``.perfbench_work/`` and plans and trace spans under ``.perfbench_out/``,
both in the directory the benchmark runs from. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import procfs  # noqa: E402
import sparkmetrics  # noqa: E402

#: the CLI's storage profile (F2 root-window filter, strict trace ids)
#: and span format, for every workload
STORAGE_TYPE = "cassandra3"
SPAN_FORMAT = "parquet"
#: timed warm invocations per untraced run, even past --seconds. Job time
#: still falls over these while the JVM warms up; a run has no time for
#: more, so job_s is the median of a warming JVM, not of a plateau
MIN_TIMED = 3
MIN_TRACED = 2    # traced iterations per traced run
RESTARTS = 2      # session restarts per untraced run, for setup_s

E2E_UNITS = {
    "job_s": "s",
    "setup_s": "s",
    "cpu_s": "core-s",
    "peak_rss_mb": "MB",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    if name.endswith("cpu_s"):
        return "core-s"
    suffix = name.replace(".", "_").rsplit("_", 1)[-1]
    return {
        "s": "s", "ms": "ms", "mb": "MB", "bytes": "bytes",
        "ratio": "ratio", "median": "ratio",
    }.get(suffix, "count")


def calibrate() -> dict[str, float]:
    """Single-core speed probes taken before Spark starts, so runs on
    machines of different speed can be compared."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    loop = time.perf_counter() - t0
    a = np.random.default_rng(0).random((600, 600))
    t0 = time.perf_counter()
    float((a @ a).sum())
    return {"python_loop_s": loop, "numpy_matmul_s": time.perf_counter() - t0}


def fit_machine(work: str) -> dict[str, object]:
    """Size the session to this machine and keep Spark's and the JVM's
    scratch files inside the work directory. Every other setting is the
    one ``session.get_spark`` ships."""
    nproc = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap_gb = max(1, min(8, phys // 4 // 2**30))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        # mapInPandas workers import the package (and this directory's
        # modules) from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        SPARK_MASTER=f"local[{nproc}]",
        SPARK_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    )
    return {"nproc": nproc, "heap": f"{heap_gb}g", "phys_mb": phys // 2**20}


def _passthrough(batches):
    yield from batches


def start_session():
    """A session built as the CLI builds it, then one tiny ``mapInPandas``
    job so every core has a Python worker. → (spark, start_s, warm_s)."""
    from zipkin_dependencies_spark.config import engine_env
    from zipkin_dependencies_spark.session import get_spark

    env = engine_env(day_arg=str(gen.DAY))
    t0 = time.perf_counter()
    spark = get_spark(master=env.master, extra_conf=env.spark_conf)
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 1000, 1, n).mapInPandas(_passthrough, schema="id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched and its Python
    workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = procfs.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
        procfs.wait_gone(workers, timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


@contextmanager
def recording_cli_job():
    """Keep the (config, links DataFrame) of each job the CLI builds while
    the ``with`` block runs; the job itself runs unchanged."""
    import zipkin_dependencies_spark.__main__ as cli

    base = cli.DependencyLinksJob
    built: list[tuple] = []

    class Recording(base):
        def links(self, spans=None):
            df = super().links(spans)
            built.append((self.config, df))
            return df

    cli.DependencyLinksJob = Recording
    try:
        yield built
    finally:
        cli.DependencyLinksJob = base


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, invocation: int, parent: int | None = None):
        rec = {"id": len(self.spans), "name": name, "parent": parent, "invocation": invocation}
        self.spans.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


class Bench:
    def __init__(self, args, work: str, out: str):
        self.args = args
        self.work = work
        self.out = out
        self.links = os.path.join(work, "links")
        self.attempted = 0
        self.failed = 0
        self.n = 0  # invocation counter, also the job-group suffix

    def generate(self) -> None:
        t0 = time.perf_counter()
        self.day = gen.generate(self.args.workload, self.args.seed, self.work)
        log(f"generated {self.day.n_spans} spans in {self.day.n_traces} traces, "
            f"{len(self.day.expected)} expected links, {time.perf_counter() - t0:.1f}s")
        os.environ.update(
            STORAGE_TYPE=STORAGE_TYPE,
            SPAN_FORMAT=SPAN_FORMAT,
            SPANS_PATH=os.path.join(self.work, "spans"),
            LINKS_PATH=self.links,
        )

    def invoke(self, spark) -> tuple[float, str]:
        """One CLI invocation, timed, then the correctness gate.
        → (seconds, job group)."""
        from zipkin_dependencies_spark.__main__ import main

        self.n += 1
        group = f"perfbench-{self.n}"
        spark.sparkContext.setJobGroup(group, group)
        self.attempted += 1
        before = self.part_files()
        t0 = time.perf_counter()
        try:
            main([str(gen.DAY)])
        except Exception:  # counted against error rate; the run goes on
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, group
        elapsed = time.perf_counter() - t0
        if not self.check(before):
            self.failed += 1
            log(f"invocation {self.n}: written links differ from the expected links")
        return elapsed, group

    @property
    def partition(self) -> str:
        return os.path.join(self.links, f"day={gen.DAY}")

    def part_files(self) -> set[str]:
        try:
            return set(os.listdir(self.partition))
        except FileNotFoundError:
            return set()

    def check(self, before: set[str]) -> bool:
        """The invocation replaced the day partition (Spark names each
        write's part files with a fresh UUID) with the expected links, and
        wrote no other day."""
        after = self.part_files()
        if not after or after == before:
            return False
        try:
            got = gen.read_links(self.partition)
        except OSError:
            return False
        days = [d for d in os.listdir(self.links) if d.startswith("day=")]
        return got == self.day.expected and days == [f"day={gen.DAY}"]

    def capture_plan(self, store, after: int) -> list[sparkmetrics.Node]:
        """Nodes of the executed plans started after ``after``; the first
        call also writes the formatted physical plan to the output dir."""
        store.drain()
        execs = store.executions_after(after)
        nodes = [n for e in execs for n in store.nodes(e.executionId())]
        path = os.path.join(self.out, f"{self.args.workload}-plan.txt")
        if not os.path.exists(path):
            with open(path, "w") as f:
                for e in execs:
                    f.write(f"-- {e.description()}\n{e.physicalPlanDescription()}\n")
        return nodes

    # -- untraced: end-to-end metrics ---------------------------------------
    def end_to_end(self) -> tuple[dict, dict]:
        spark, start_s, warm_s = start_session()
        cold_setup_s = start_s + warm_s
        try:
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            store = sparkmetrics.SqlStore(spark)

            first_job_s, _ = self.invoke(spark)
            times, cpus, rss = [], [], []
            steal0 = procfs.steal_s()
            t_window = time.perf_counter()
            deadline = t_window + self.args.seconds
            exchanges = None
            while len(times) < MIN_TIMED or time.perf_counter() < deadline:
                mark = store.last_execution_id()
                with procfs.Usage(jvm_pid) as usage:
                    elapsed, _ = self.invoke(spark)
                times.append(elapsed)
                cpus.append(usage.jvm_cpu_s + usage.python_cpu_s)
                rss.append(usage.peak_rss_mb)
                if exchanges is None:
                    nodes = self.capture_plan(store, mark)
                    exchanges = sparkmetrics.layer_metrics(nodes)["job.exchanges"]
            window_s = time.perf_counter() - t_window
            steal = procfs.steal_s() - steal0
            cpus_effective = spark.sparkContext.defaultParallelism

            # the cold set-up is one noisy sample per run (JVM launch, class
            # loading, the Python daemon's first fork); setup_s is the
            # median of restarts of the session inside the running JVM
            restarts = []
            for _ in range(RESTARTS):
                spark.stop()
                spark, start_s, warm_s = start_session()
                restarts.append(start_s + warm_s)
        finally:
            stop_jvm(spark)

        metrics = {
            "job_s": statistics.median(times),
            "setup_s": statistics.median(restarts),
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": statistics.median(rss),
        }
        context = {
            "first_job_s": first_job_s,
            "timed_invocations": len(times),
            "job_s_all": times,
            "cpu_s_all": cpus,
            "peak_rss_mb_all": rss,
            "cold_setup_s": cold_setup_s,
            "restarts_s": restarts,
            "window_s": window_s,
            "stolen_cpu_s": steal,
            "cpus_effective": cpus_effective,
            "job.exchanges": exchanges,
        }
        return metrics, context

    # -- traced: per-layer metrics ------------------------------------------
    def prefixes(self, spark, config, cli_links) -> list[tuple[str, object]]:
        """Cumulative prefixes of the job's public call chain. The last is
        ``DependencyLinksJob.links`` with the config the CLI built; it must
        have the analyzed plan of the links the CLI wrote, and each earlier
        prefix must be a subtree of it, else the layers would time a plan
        the CLI no longer runs."""
        from zipkin_dependencies_spark.functions import normalize_spans
        from zipkin_dependencies_spark.functions.time import day_window_micros, utc_day
        from zipkin_dependencies_spark.operators.dedup import dedupe_spans
        from zipkin_dependencies_spark.operators.link import trace_links_partitioned
        from zipkin_dependencies_spark.plans.job import DependencyLinksJob
        from zipkin_dependencies_spark.sources import read_spans_parquet

        spans = read_spans_parquet(spark, config.spans_path)
        # the scan alone would decode all 14 columns; the job reads the 9
        # that normalize_spans projects, so that projection joins the scan
        sources = normalize_spans(spans, strict_trace_id=config.strict_trace_id)
        dedup = dedupe_spans(sources)
        link = trace_links_partitioned(dedup, day_window_micros(utc_day(config.day)))
        full = DependencyLinksJob(spark, config).links(spans)
        out = [("sources", sources), ("dedup", dedup), ("linker", link), ("aggregate", full)]

        def analyzed(df):
            return df._jdf.queryExecution().analyzed()

        def contains(plan, sub) -> bool:
            kids = plan.children()
            return plan.sameResult(sub) or any(contains(kids.apply(i), sub) for i in range(kids.size()))

        if not analyzed(full).sameResult(analyzed(cli_links)):
            raise RuntimeError("DependencyLinksJob.links differs from the plan the CLI ran")
        for name, df in out[:-1]:
            if not contains(analyzed(full), analyzed(df)):
                raise RuntimeError(f"the {name} prefix is not a subtree of the CLI's plan")
        return out

    def per_layer(self) -> tuple[dict, dict]:
        tracer = Tracer()
        spark, start_s, warm_s = start_session()
        try:
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            store = sparkmetrics.SqlStore(spark)
            gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

            def gc_ms() -> float:
                return sum(gc_beans.get(i).getCollectionTime() for i in range(gc_beans.size()))

            with recording_cli_job() as built:
                first_job_s, _ = self.invoke(spark)  # cold
            config, cli_links = built[-1]

            self_s: dict[str, list[float]] = {}
            untraced, traced, rows = [], [], []
            deadline = time.perf_counter() + self.args.seconds
            while len(traced) < MIN_TRACED or time.perf_counter() < deadline:
                # untraced and traced invocations alternate, so the overhead
                # estimate does not depend on how warm the JVM is
                untraced.append(self.invoke(spark)[0])
                inv = self.n + 1
                with tracer.span("invocation", inv) as root:
                    done = 0.0
                    for name, df in self.prefixes(spark, config, cli_links):
                        with tracer.span(f"prefix.{name}", inv, root["id"]) as rec:
                            df.write.format("noop").mode("overwrite").save()
                        # each prefix reruns the ones before it: self = delta
                        self_s.setdefault(name, []).append(tracer.duration(rec) - done)
                        done = tracer.duration(rec)
                    mark = store.last_execution_id()
                    gc0 = gc_ms()
                    with tracer.span("cli", inv, root["id"]) as rec, procfs.Usage(jvm_pid) as usage:
                        _, group = self.invoke(spark)
                gc = gc_ms() - gc0
                cli_s = tracer.duration(rec)
                # everything the full invocation adds beyond the links plan:
                # the sink's stamp-and-overwrite write
                self_s.setdefault("sinks", []).append(cli_s - done)
                traced.append(cli_s)
                m = sparkmetrics.layer_metrics(self.capture_plan(store, mark))
                m.update(sparkmetrics.job_counts(spark, group))
                m.update({
                    "jvm.gc_ms": gc,
                    "executor.cpu_s": usage.jvm_cpu_s,
                    "python.cpu_s": usage.python_cpu_s,
                    "python.peak_rss_mb": usage.python_peak_rss_mb,
                })
                rows.append(m)
            cpus_effective = spark.sparkContext.defaultParallelism
        finally:
            stop_jvm(spark)

        metrics = {
            "session.start_s": start_s,
            "session.worker_warm_s": warm_s,
            "job.first_s": first_job_s,
        }
        for name, values in self_s.items():
            metrics[f"{name}.self_s"] = statistics.median(values)
        for key in rows[0]:
            metrics[key] = statistics.median(r[key] for r in rows)
        shuffled = metrics.pop("link.shuffle_records")
        metrics["linker.useful_ratio"] = self.day.linked_spans / shuffled if shuffled else 0.0
        untraced_s, traced_s = statistics.median(untraced), statistics.median(traced)
        metrics["trace.job_s"] = traced_s
        metrics["trace.untraced_job_s"] = untraced_s
        metrics["trace.overhead_s"] = traced_s - untraced_s

        with open(os.path.join(self.out, f"{self.args.workload}-seed{self.args.seed}-trace.json"), "w") as f:
            json.dump(tracer.spans, f)
        return metrics, {"traced_invocations": len(traced), "cpus_effective": cpus_effective}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:  # fail before any work when the package is not beside the benchmark
        import zipkin_dependencies_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the package from {ROOT}: {e}")
        return 2

    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{args.seed}")
    out = os.path.join(cwd, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    machine = fit_machine(work)
    machine["calibration"] = calibrate()

    bench = Bench(args, work, out)
    bench.generate()
    try:
        if args.trace:
            metrics, context = bench.per_layer()
        else:
            metrics, context = bench.end_to_end()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    context.update(machine)
    context.update(
        workload=args.workload, seed=args.seed, spans=bench.day.n_spans,
        traces=bench.day.n_traces, expected_links=len(bench.day.expected),
    )
    units = E2E_UNITS if not args.trace else {k: unit_of(k) for k in metrics}
    for name, value in metrics.items():
        print(f"{args.workload:12s} {name:34s} {value:14.4f} {units[name]}")
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
