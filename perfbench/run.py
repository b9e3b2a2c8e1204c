#!/usr/bin/env python3
"""spark-extract benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see perfbench/README.md):
``extract_jobs`` alternates the job shape of scripts/submit_extract.py
(read -> resume anti-join -> extract_pipeline -> write_output) over a
seeded lines table and a seeded words table; ``query_mix`` is one client
in a closed loop over the 12 non-extraction headline queries of bench.py.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats the
timed loop untraced and traced (event log, spans, job groups) and prints
the per-layer metrics. Every output is checked outside the timed windows;
the last stdout line is one JSON object, and any failed check makes the
exit code 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

from metrics import END_TO_END, PER_LAYER, QUERY_MIX, QUERY_TABLES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")   # run dirs, native build cache, traces

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = 8

WORKLOADS = ("extract_jobs", "query_mix")


def import_package() -> None:
    """Import the package (and pyspark) from the checkout, on the main
    thread before any background thread does; fails fast outside a
    checkout, before anything is written."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import swissgeol_ocr_spark.plans.pipeline  # noqa: F401


def make_run_dir(prefix: str) -> str:
    """A fresh run directory under the checkout, made the temp dir of this
    process, the JVM and the Python workers."""
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=prefix, dir=os.path.join(STATE, "tmp"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_NATIVE_DIR"] = os.path.join(STATE, "native")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return tmp


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


# --- Spark session ----------------------------------------------------------

def _launch_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # a pre-touched fixed heap: memory readings do not depend on when
        # the heap happens to grow
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
    }


class JvmLauncher(threading.Thread):
    """Starts the JVM gateway in the background, so the JVM process launch
    overlaps the benchmark's own input and oracle preparation; ``join``
    re-raises a launch failure."""

    def __init__(self, tmp: str):
        super().__init__(daemon=True)
        self.tmp = tmp
        self.error: BaseException | None = None
        self.start()

    def run(self) -> None:
        from pyspark import SparkConf, SparkContext

        try:
            conf = SparkConf().setAll(list(_launch_conf(self.tmp).items()))
            SparkContext._ensure_initialized(conf=conf)
        except BaseException as exc:  # re-raised in the main thread by join()
            self.error = exc

    def join(self, timeout=None) -> None:
        super().join(timeout)
        if self.error is not None:
            raise self.error

    def settle(self) -> None:
        """Wait for a launch still in flight, so the JVM it starts is there
        to be stopped; a launch failure is left to ``join``."""
        threading.Thread.join(self)


def build_session(tmp: str, cores: int = CORES, event_log: str | None = None):
    from pyspark.sql import SparkSession

    from swissgeol_ocr_spark.plans.pipeline import configure_spark

    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for key, value in _launch_conf(tmp).items():
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = configure_spark(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the Spark context and the JVM this process launched."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux): a
    Python worker that outlives the JVM is re-parented here, not to init,
    so ``stop_processes`` can find it and wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    the multiprocessing resource tracker (which ignores SIGTERM), then any
    descendant still alive — SIGTERM, and SIGKILL after ``grace`` seconds."""
    from multiprocessing import resource_tracker

    from tracing import process_tree

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    me = os.getpid()
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        _reap()
        alive = [pid for pid in process_tree(me) if pid != me and not _ended(pid)]
        if not alive:
            return
        late = time.monotonic() > deadline
        for pid in alive:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def native_available() -> bool:
    from swissgeol_ocr_spark.operators import _native

    return _native.available()


# --- one extraction job -----------------------------------------------------

class JobRunner:
    """The scripts/submit_extract.py job body over one generated corpus;
    each call commits to fresh output/metrics paths."""

    def __init__(self, spark, corpus, work: str, tracer):
        from swissgeol_ocr_spark.plans.config import ExtractConfig

        self.spark = spark
        self.corpus = corpus
        self.work = work
        self.tracer = tracer
        self.trace_groups = False
        self.config = ExtractConfig(
            build_lines_from_words=corpus.spec.granularity == "words")
        self.commits: list[tuple[str, str, str]] = []

    def _group(self, name: str) -> None:
        if self.trace_groups:
            self.spark.sparkContext.setJobGroup(name, name)

    def __call__(self, tag: str) -> float:
        from swissgeol_ocr_spark.plans.pipeline import (
            extract_pipeline,
            read_committed,
            write_output,
        )

        n = len(self.commits)
        out = os.path.join(self.work, f"out-{n}")
        metrics = os.path.join(self.work, f"metrics-{n}")
        run_id = f"{tag}-{n}"
        spark, corpus = self.spark, self.corpus
        t0 = time.perf_counter()
        with self.tracer.span(f"job:{tag}"):
            self._group(f"build:{tag}")
            with self.tracer.span("plans.pipeline.build"):
                spans = spark.read.parquet(corpus.input_path)
                done = (read_committed(spark, corpus.done_path).select("doc_id")
                        if corpus.done_path else None)
                out_df = extract_pipeline(spans, config=self.config, done_df=done)
            self._group(f"exec:{tag}")
            with self.tracer.span("plans.pipeline.write_output"):
                write_output(out_df, out, run_id=run_id, metrics_path=metrics)
        wall = time.perf_counter() - t0
        self.commits.append((out, metrics.rstrip("/") + "_manifest", run_id))
        return wall


# --- one registry query -----------------------------------------------------

class QueryRunner:
    """Build a registry query and force every output column to the driver."""

    def __init__(self, spark, sf_dir: str, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.trace_groups = False
        self.results: list[tuple[str, object]] = []

    def __call__(self, name: str, tag: str) -> float:
        from swissgeol_ocr_spark.plans.queries import QUERIES

        fn = QUERIES[name][0]
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        with self.tracer.span(f"q:{tag}:{name}"):
            if self.trace_groups:
                sc.setJobGroup(f"build:{name}", name)
            with self.tracer.span("plans.queries.build"):
                df = fn(self.spark, self.sf_dir)
            if self.trace_groups:
                sc.setJobGroup(f"exec:{name}", name)
            with self.tracer.span("plans.queries.exec"):
                result = df.toPandas()
        wall = time.perf_counter() - t0
        self.results.append((name, result))
        return wall


# --- statistics ---------------------------------------------------------------

def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def closed_loop(seconds: float, step) -> float:
    """Call ``step`` until ``seconds`` have passed (at least once);
    returns the elapsed wall time."""
    from tracing import tree_cpu_s

    t0, steal0, cpu0 = time.perf_counter(), _steal_s(), tree_cpu_s(os.getpid())
    while True:
        step()
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            log(f"loop {elapsed:.2f}s, process tree CPU "
                f"{tree_cpu_s(os.getpid()) - cpu0:.2f}s, host steal "
                f"{_steal_s() - steal0:.2f} CPU-s")
            return elapsed


# --- workloads --------------------------------------------------------------

class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str):
        from tracing import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.tracer = Tracer(run_id=f"{workload}-{seed}", enabled=False)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed_ops = 0
        self.jvm: JvmLauncher | None = None

    # extraction jobs --------------------------------------------------------

    def job_workload(self) -> dict:
        from inputs import CORPORA, build_corpus, process_pool
        from tracing import MemorySampler

        jvm = self.jvm = JvmLauncher(self.tmp)
        with process_pool(CORES) as pool:
            self.corpora = {
                kind: build_corpus(spec, self.seed, salt=kind[0],
                                   work=os.path.join(self.tmp, f"gen-{kind}"), pool=pool)
                for kind, spec in CORPORA.items()
            }
        for kind, c in self.corpora.items():
            log(f"{kind}: {len(c.docs)} docs, {len(c.todo)} to do, "
                f"{c.spans_todo()} spans to do")
        jvm.join()

        t0 = time.perf_counter()
        spark = build_session(self.tmp)
        self.native = native_available()
        log(f"native reading-order kernel available: {self.native}")
        self.runners = {
            kind: JobRunner(spark, c, os.path.join(self.tmp, f"jobs-{kind}"), self.tracer)
            for kind, c in self.corpora.items()
        }
        self.job_pair("warmup")
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s")

        pairs: list[dict[str, float]] = []
        seconds = self.seconds / 2 if self.trace else self.seconds
        with MemorySampler() as rss:
            elapsed = closed_loop(seconds, lambda: pairs.append(self.job_pair("timed")))
        self.untraced_pairs = pairs
        log_memory(rss)
        log("jobs " + "  ".join(" ".join(f"{k}={w:.2f}" for k, w in p.items()) for p in pairs))
        docs = sum(len(c.todo) for c in self.corpora.values())
        spans = sum(c.spans_todo() for c in self.corpora.values())
        walls = [sum(p.values()) for p in pairs]
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": statistics.median(docs / w for w in walls),
            "rows_per_s": statistics.median(spans / w for w in walls),
            "pass_s.p50": statistics.median(walls),
            "queries_per_s": len(self.runners) * len(walls) / elapsed,
            "peak_rss_mb": rss.peak / 1e6,
        }
        if self.trace:
            metrics = self.trace_jobs(spark)
        self.check_jobs()
        return metrics

    def job_pair(self, tag: str) -> dict[str, float]:
        """One lines job, then one words job; their wall times."""
        return {kind: runner(tag) for kind, runner in self.runners.items()}

    def check_jobs(self) -> None:
        from checks import check_job_output
        from inputs import process_pool

        tasks = [(kind, self.corpora[kind], *commit)
                 for kind, runner in self.runners.items() for commit in runner.commits]
        with process_pool(CORES) as pool:
            results = pool.starmap(check_job_output, [t[1:] for t in tasks], chunksize=1)
        for (kind, _, _, _, run_id), fails in zip(tasks, results):
            self.attempted += 1
            if fails:
                self.failed_ops += 1
                self.failures += [f"{kind} {run_id}: {f}" for f in fails]

    # query workload -----------------------------------------------------------

    def query_workload(self) -> dict:
        from checks import oracle_frames
        from inputs import QUERY_SF_DIR
        from tracing import MemorySampler

        jvm = self.jvm = JvmLauncher(self.tmp)
        self.oracles = oracle_frames(QUERY_MIX, QUERY_SF_DIR)
        log("oracles computed")
        jvm.join()
        rng = random.Random(f"query_mix:{self.seed}")

        def run_round(runner, tag, walls=None):
            for name in rng.sample(QUERY_MIX, len(QUERY_MIX)):
                wall = runner(name, tag)
                if walls is not None:
                    walls.append((name, wall))

        t0 = time.perf_counter()
        spark = build_session(self.tmp)
        self.native = native_available()
        log(f"native reading-order kernel available: {self.native}")
        runner = QueryRunner(spark, QUERY_SF_DIR, self.tracer)
        run_round(runner, "warmup")       # the cold round: memos fill here
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s")

        walls: list[tuple[str, float]] = []
        seconds = self.seconds / 2 if self.trace else self.seconds
        with MemorySampler() as rss:
            elapsed = closed_loop(seconds, lambda: run_round(runner, "timed", walls))
        self.untraced_walls = walls
        log_memory(rss)
        times = [w for _, w in walls]
        rounds = [sum(times[i:i + len(QUERY_MIX)])
                  for i in range(0, len(times), len(QUERY_MIX))]
        log(f"{len(times)} queries in {elapsed:.2f}s: "
            + " ".join(f"{n}={w:.3f}" for n, w in walls))
        rows = table_rows(QUERY_SF_DIR)
        doc_walls = [w for n, w in walls if "documents" in QUERY_TABLES[n]]
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": rows["documents"] * len(doc_walls) / sum(doc_walls),
            "rows_per_s": sum(sum(rows[t] for t in QUERY_TABLES[n]) for n, _ in walls)
            / sum(times),
            "pass_s.p50": statistics.median(rounds),
            "queries_per_s": len(times) / elapsed,
            "peak_rss_mb": rss.peak / 1e6,
        }
        if self.trace:
            metrics = self.trace_queries(spark, runner, run_round)
        self.check_queries(runner)
        return metrics

    def check_queries(self, runner) -> None:
        from checks import check_query_result

        for name, result in runner.results:
            self.attempted += 1
            fails = check_query_result(name, result, self.oracles[name])
            if fails:
                self.failed_ops += 1
                self.failures += fails

    # traced runs ---------------------------------------------------------------

    def _traced_session(self, spark):
        spark.stop()
        log_dir = os.path.join(self.tmp, "eventlog")
        return build_session(self.tmp, event_log=log_dir), log_dir

    def trace_jobs(self, spark) -> dict:
        import pyarrow.parquet as pq

        from swissgeol_ocr_spark.plans.config import ExtractConfig
        from tracing import (
            engine_metrics,
            kernel_invocations,
            read_event_log,
            replay_kernel,
        )

        spark, log_dir = self._traced_session(spark)
        self.set_session(spark)
        self.job_pair("warmup")                # worker spin-up of the new context
        self.set_tracing(True)
        traced: list[dict[str, float]] = []
        closed_loop(self.seconds / 2, lambda: traced.append(self.job_pair("traced")))
        self.set_tracing(False)
        spark.stop()
        # the north rule's N -> 4N evidence: the words job at local[1]
        spark = build_session(self.tmp, cores=1)
        self.set_session(spark)
        words = self.runners["words"]
        words("warmup")
        one_core = words("scaling")
        four_core = statistics.median(p["words"] for p in self.untraced_pairs)
        spark.stop()

        log_ = read_event_log(log_dir)
        tops = [s for s in self.tracer.spans if s.name == "job:traced"]
        eng = engine_metrics(log_, [(s.start, s.end) for s in tops], CORES)
        builds = [s.end - s.start for s in self.tracer.spans
                  if s.name == "plans.pipeline.build"]

        cfg = ExtractConfig()
        route = {"passthrough": 0, "kernel": 0, "mega": 0, "mega_spans": 0, "spans": 0}
        samples = []
        invocations = 0
        for kind, corpus in self.corpora.items():
            todo = corpus.todo
            mega = {d.doc_id for d in todo
                    if corpus.n_spans[d.doc_id] > cfg.mega_doc_span_cutoff}
            kernel = {d.doc_id for d in todo
                      if corpus.has_media[d.doc_id] and d.doc_id not in mega}
            chunks = sum(math.ceil(corpus.pages[d] / cfg.mega_doc_pages_per_task)
                         for d in mega)
            route["passthrough"] += len(todo) - len(kernel) - len(mega)
            route["kernel"] += len(kernel)
            route["mega"] += len(mega)
            route["mega_spans"] += sum(corpus.n_spans[d] for d in mega)
            route["spans"] += corpus.spans_todo()
            samples.append((corpus, kernel, mega, self.runners[kind].config,
                            len(kernel) + chunks))
            invocations += len(kernel) + chunks
        ops = replay_kernel(kernel_invocations(samples, self.seed))

        commits = [(kind, c) for kind, r in self.runners.items() for c in r.commits
                   if c[2].startswith("traced")]
        out_bytes = [_dir_bytes(out) for _, (out, _, _) in commits]
        files = [_data_files(out) + _data_files(m[: -len("_manifest")]) + _data_files(m)
                 for _, (out, m, _) in commits]
        lines_out = [out for kind, (out, _, _) in commits if kind == "lines"][-1]
        committed_lines = sum(pq.read_metadata(os.path.join(lines_out, f)).num_rows
                              for f in _parts(lines_out))
        committed = sum(len(c.todo) for c in self.corpora.values())
        py_task = eng["spark.python.stage_task_s"] * len(self.runners)
        layers = self.empty_layers()
        layers.update({k: v for k, v in eng.items() if not k.startswith("_")})
        layers.update(ops)
        layers.update({
            "plans.pipeline.build_s": statistics.fmean(builds),
            "plans.pipeline.route.passthrough_docs": route["passthrough"],
            "plans.pipeline.route.kernel_docs": route["kernel"],
            "plans.pipeline.route.mega_docs": route["mega"],
            "plans.pipeline.route.mega_span_share": route["mega_spans"] / route["spans"],
            "plans.pipeline.resume.skipped_docs":
                len(self.corpora["lines"].docs) - committed_lines,
            "plans.pipeline.sink.out_mb": statistics.fmean(out_bytes) / 1e6,
            "plans.pipeline.sink.files": statistics.fmean(files),
            "plans.pipeline.sink.bytes_per_doc":
                sum(out_bytes) / (committed * len(commits) / len(self.runners)),
            "spark.python.transfer_share": (
                1 - ops["operators.extract.doc_ms"] / 1e3 * invocations / py_task
                if py_task else 0.0),
            "scaling.eff_1_to_4": one_core / (CORES * four_core),
        })
        untraced = [sum(p.values()) for p in self.untraced_pairs]
        overhead = (statistics.median(sum(p.values()) for p in traced)
                    / statistics.median(untraced) - 1) * 100
        return self.finish_layers(layers, eng, overhead)

    def set_session(self, spark) -> None:
        for runner in self.runners.values():
            runner.spark = spark

    def set_tracing(self, on: bool) -> None:
        self.tracer.enabled = on
        for runner in self.runners.values():
            runner.trace_groups = on

    def trace_queries(self, spark, runner, run_round) -> dict:
        from tracing import engine_metrics, group_jobs, read_event_log

        spark, log_dir = self._traced_session(spark)
        runner.spark = spark
        runner(QUERY_MIX[0], "warmup")        # worker spin-up of the new context
        self.tracer.enabled = True
        runner.trace_groups = True
        traced: list[tuple[str, float]] = []
        closed_loop(self.seconds / 2, lambda: run_round(runner, "traced", traced))
        self.tracer.enabled = False
        runner.trace_groups = False
        spark.stop()
        log = read_event_log(log_dir)
        spans = self.tracer.spans
        tops = [(i, s) for i, s in enumerate(spans) if s.name.startswith("q:traced:")]
        eng = engine_metrics(log, [(s.start, s.end) for _, s in tops], CORES)
        per_q: dict[str, dict[str, list[float]]] = {}
        for i, s in tops:
            name = s.name.split(":", 2)[2]
            d = per_q.setdefault(name, {"build": [], "exec": []})
            for c in self.tracer.children(i):
                key = "build" if c.name.endswith("build") else "exec"
                d[key].append(c.end - c.start)
        layers = self.empty_layers()
        layers.update({k: v for k, v in eng.items() if not k.startswith("_")})
        n_exec = len(tops)
        layers.update({
            "plans.queries.build_s": statistics.fmean(
                x for d in per_q.values() for x in d["build"]),
            "plans.queries.exec_s": statistics.fmean(
                x for d in per_q.values() for x in d["exec"]),
            "plans.queries.build_jobs": sum(
                group_jobs(log, f"build:{n}") for n in per_q) / n_exec,
            "operators.readingorder.native": int(self.native),
        })
        for name, d in per_q.items():
            layers[f"q.{name}.build_s"] = statistics.fmean(d["build"])
            layers[f"q.{name}.exec_s"] = statistics.fmean(d["exec"])
        untraced: dict[str, list[float]] = {}
        for n, w in self.untraced_walls:
            untraced.setdefault(n, []).append(w)
        both = [n for n in per_q if n in untraced]
        walls_t = {n: [] for n in both}
        for n, w in traced:
            if n in walls_t:
                walls_t[n].append(w)
        over = (sum(statistics.median(walls_t[n]) for n in both)
                / sum(statistics.median(untraced[n]) for n in both) - 1) * 100
        return self.finish_layers(layers, eng, over)

    def finish_layers(self, layers, eng, overhead: float) -> dict:
        wall = eng.get("_wall", 0.0)
        if wall:
            ledger = eng["driver.gap_s"] + eng["_slot_s"]
            layers["ledger.gap_pct"] = abs(wall - ledger) / wall * 100
        layers["tracing.overhead_pct"] = overhead
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        self.tracer.dump(os.path.join(traces, f"{self.workload}-{self.seed}.jsonl"))
        return layers

    def empty_layers(self) -> dict:
        return {name: 0.0 for name, _, _ in PER_LAYER}


def log_memory(sampler) -> None:
    """The peak memory sample per process, largest first."""
    parts = []
    for pid, b in sorted(sampler.peak_by_pid.items(), key=lambda kv: -kv[1]):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            name = "?"
        parts.append(f"{name}:{pid}={b / 1e6:.0f}MB")
    log(f"peak memory {sampler.peak / 1e6:.0f}MB: " + " ".join(parts))


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {f[: -len(".parquet")]: pq.read_metadata(os.path.join(sf_dir, f)).num_rows
            for f in os.listdir(sf_dir) if f.endswith(".parquet")}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in _parts(path))


def _parts(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))


def _data_files(path: str) -> int:
    return len(_parts(path))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_package()
    # SIGTERM unwinds through the finally below: the JVM and every other
    # process of the run are stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    tmp = make_run_dir("run-")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    try:
        if args.workload == "query_mix":
            metrics = run.query_workload()
        else:
            metrics = run.job_workload()
    finally:
        try:
            if run.jvm is not None:
                run.jvm.settle()
            shutdown_jvm()
        finally:
            stop_processes()
            shutil.rmtree(tmp, ignore_errors=True)

    log("done")
    for line in run.failures[:50]:
        print(f"CHECK FAILED: {line}", file=sys.stderr)
    if args.trace:
        names = PER_LAYER
    else:
        names = END_TO_END
    out = {k: {"value": float(metrics[k]), "unit": u} for k, u, _ in names}
    correct = not run.failures and run.failed_ops == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed_ops,
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
