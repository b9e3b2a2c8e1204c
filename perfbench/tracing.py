"""Tracing for the benchmark: spans around the calls into each layer, a
/proc memory sampler, a Spark event-log reader and the in-process kernel
replay. Nothing here reaches inside the package: spans wrap public calls,
Spark metrics come from the event log of the benchmark's own session,
and the replay wraps the names ``operators.extract`` imported, in this
process only.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float      # epoch seconds (comparable with event-log millis)
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --- peak memory of the process tree ---------------------------------------

def process_tree(root: int) -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of ``root`` and its descendants."""
    procs: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        procs[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    tree, frontier = {root: procs.get(root, (0, "?"))}, [root]
    while frontier:
        p = frontier.pop()
        for c, (pp, name) in procs.items():
            if pp == p and c not in tree:
                tree[c] = (pp, name)
                frontier.append(c)
    return tree


def tree_memory(root: int) -> dict[int, int]:
    """Anonymous resident memory of ``root`` and its descendants — heaps,
    Python objects, Arrow buffers; code and mapped files, which forked
    Python workers share, are left out. Read from /proc/<pid>/status, which
    costs no page-table walk (smaps does, and stalls a large JVM while it
    runs). Of the JVM's children only the Python daemon is counted: the
    others are short-lived spawns of shell commands, which share all of the
    JVM's pages until they exec. Returns bytes per pid."""
    tree = process_tree(root)
    out = {}
    for pid, (ppid, name) in tree.items():
        if tree.get(ppid, (0, ""))[1] == "java" and not name.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("RssAnon:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """CPU time (user + system, reaped children included) of ``root`` and
    its descendants, in seconds."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Samples ``tree_memory`` of this process (driver Python, JVM, Python
    workers) while active; ``peak`` is the highest summed sample and
    ``peak_by_pid`` its breakdown."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = tree_memory(me)
            if sum(sample.values()) > self.peak:
                self.peak = sum(sample.values())
                self.peak_by_pid = sample
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# --- Spark event log ------------------------------------------------------

@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_b: int
    out_b: int
    sh_write_b: int
    sh_read_b: int
    fetch_wait_s: float
    spill_b: int
    py_sent_b: int
    py_recv_b: int
    acc: dict            # accumulator id -> update (SQL metrics)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)      # id -> [start, end, group, stages]
    tasks: list[Task] = field(default_factory=list)
    python_rows_acc: set = field(default_factory=set)


def _plan_python_rows(plan: dict, acc: set) -> None:
    """Accumulator ids of the 'number of output rows' metric of every
    MapInArrow node (one output row per input document)."""
    if "MapInArrow" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                acc.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_python_rows(child, acc)


def read_event_log(log_dir: str) -> EventLog:
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = [e["Submission Time"] / 1e3, None,
                                         props.get("spark.jobGroup.id"), e["Stage IDs"]]
            elif ev == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]][1] = e["Completion Time"] / 1e3
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_python_rows(e.get("sparkPlanInfo", {}), log.python_rows_acc)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                # SQL-metric updates arrive as strings
                acc = {a["ID"]: int(a.get("Update") or 0) for a in info.get("Accumulables", [])
                       if "ID" in a and str(a.get("Update", "")).lstrip("-").isdigit()}
                named = {a.get("Name"): acc.get(a.get("ID"), 0)
                         for a in info.get("Accumulables", [])}
                sr = m.get("Shuffle Read Metrics", {})
                log.tasks.append(Task(
                    stage=e["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1e3,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1e3,
                    input_b=m.get("Input Metrics", {}).get("Bytes Read", 0),
                    out_b=m.get("Output Metrics", {}).get("Bytes Written", 0),
                    sh_write_b=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    sh_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
                    spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    py_sent_b=named.get("data sent to Python workers", 0),
                    py_recv_b=named.get("data returned from Python workers", 0),
                    acc=acc,
                ))
    return log


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(a: float, b: float, lo: float, hi: float):
    a, b = max(a, lo), min(b, hi)
    return (a, b) if b > a else None


def engine_metrics(log: EventLog, ops: list[tuple[float, float]], cores: int) -> dict:
    """Per-operation means of the Spark-engine metrics over the traced
    operations, given as (start, end) epoch seconds; a Spark job belongs to
    the operation whose window contains its submission."""
    per_op = []
    for start, end in ops:
        job_ids = [j for j, (s, e, g, _) in log.jobs.items()
                   if e is not None and start <= s <= end]
        stages = {s for j in job_ids for s in log.jobs[j][3]}
        tasks = [t for t in log.tasks if t.stage in stages]
        wall = end - start
        busy = _union(filter(None, (_clip(log.jobs[j][0], log.jobs[j][1], start, end)
                                    for j in job_ids)))
        by_stage: dict[int, list[Task]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t)
        heavy = max(by_stage.values(), key=lambda ts: sum(t.run_s for t in ts), default=[])
        durs = sorted(t.run_s for t in heavy) or [0.0]
        p50 = statistics.median(durs)
        py_stages = {s for s, ts in by_stage.items() if any(t.py_sent_b for t in ts)}
        scan_stages = {s for s, ts in by_stage.items() if any(t.input_b for t in ts)}
        sink_stages = {s for s, ts in by_stage.items() if any(t.out_b for t in ts)}
        mb = 1e6
        per_op.append({
            "spark.jobs": len(job_ids),
            "spark.stages": len(by_stage),
            "spark.tasks": len(tasks),
            "spark.scan.input_mb": sum(t.input_b for t in tasks) / mb,
            "spark.scan.task_s": sum(t.run_s for t in tasks if t.stage in scan_stages),
            "spark.shuffle.write_mb": sum(t.sh_write_b for t in tasks) / mb,
            "spark.shuffle.read_mb": sum(t.sh_read_b for t in tasks) / mb,
            "spark.shuffle.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
            "spark.exec.task_s": sum(t.run_s for t in tasks),
            "spark.exec.cpu_s": sum(t.cpu_s for t in tasks),
            "spark.exec.gc_s": sum(t.gc_s for t in tasks),
            "spark.exec.spill_mb": sum(t.spill_b for t in tasks) / mb,
            "spark.sink.task_s": sum(t.run_s for t in tasks if t.stage in sink_stages),
            "spark.straggler.p50_s": p50,
            "spark.straggler.max_s": durs[-1],
            "spark.straggler.skew": durs[-1] / p50 if p50 > 0 else 0.0,
            "driver.gap_s": wall - busy,
            "spark.python.rows_in": sum(v for t in tasks for a, v in t.acc.items()
                                        if a in log.python_rows_acc),
            "spark.python.mb_in": sum(t.py_sent_b for t in tasks) / mb,
            "spark.python.mb_out": sum(t.py_recv_b for t in tasks) / mb,
            "spark.python.stage_task_s": sum(t.run_s for t in tasks if t.stage in py_stages),
            "_wall": wall,
            "_slot_s": sum(t.run_s for t in tasks) / cores,
        })
    keys = per_op[0].keys() if per_op else []
    return {k: statistics.fmean(o[k] for o in per_op) for k in keys}


def group_jobs(log: EventLog, group: str) -> int:
    return sum(1 for _, _, g, _ in log.jobs.values() if g == group)


# --- in-process kernel replay --------------------------------------------

_STAGES = {
    "operators.classify.ms": ("encode_kinds", "is_digitally_born", "find_old_ocr_spans"),
    "operators.assemble.ms": ("lines_from_words",),
    "operators.tiling.ms": ("clip_rects", "combine_text_lines"),
    "operators.readingorder.ms": ("sort_lines_indices",),
    "operators.confidence.ms": ("filter_blocks",),
}


def replay_kernel(calls) -> dict:
    """Time ``extract_document`` and its stage functions, one thread, over
    ``calls`` (argument tuples exactly as the Arrow driver passes them).
    The stage functions are wrapped under the names operators.extract
    imported and restored afterwards."""
    from swissgeol_ocr_spark.operators import _native
    from swissgeol_ocr_spark.operators import extract as ex

    spent = {k: 0.0 for k in _STAGES}
    counts = {"lines": 0}
    saved = {}

    def wrap(metric, name, fn):
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[metric] += time.perf_counter() - t
                if name == "sort_lines_indices":
                    counts["lines"] += len(a[0])
        return timed

    for metric, names in _STAGES.items():
        for name in names:
            saved[name] = getattr(ex, name)
            setattr(ex, name, wrap(metric, name, saved[name]))
    total = 0.0
    pages = 0
    try:
        for args in calls:
            t = time.perf_counter()
            ex.extract_document(*args)
            total += time.perf_counter() - t
            pages += len(set(args[4].tolist()))
    finally:
        for name, fn in saved.items():
            setattr(ex, name, fn)
    n = max(1, len(calls))
    out = {k: v * 1e3 / n for k, v in spent.items()}
    out["operators.extract.doc_ms"] = total * 1e3 / n
    out["operators.extract.self_ms"] = (total - sum(spent.values())) * 1e3 / n
    out["operators.pages"] = pages
    out["operators.lines"] = counts["lines"]
    out["operators.readingorder.native"] = int(_native.available())
    return out


def kernel_invocations(samples, seed: int, limit: int = 240) -> list[tuple]:
    """A seeded sample of the kernel calls the pipeline makes. ``samples``
    = (corpus, kernel doc_ids, mega doc_ids, config, invocation count) per
    job input; the ``limit`` calls are split between the inputs in
    proportion to their invocation counts. Kernel-routed documents are
    called whole, mega documents as the page chunks of
    ``config.mega_doc_pages_per_task`` pages the split feeds the kernel
    (spans ordered by page, offset, position, as the split sorts them).
    Each call is (``extract_document`` arguments..., config)."""
    import random

    import numpy as np
    import pyarrow.parquet as pq

    total = sum(s[4] for s in samples)
    rng = random.Random(f"replay:{seed}")
    calls = []
    for corpus, kernel_ids, mega_ids, config, count in samples:
        table = pq.read_table(corpus.input_path, columns=["doc_id", "spans"])
        spans = table.column("spans").combine_chunks()
        offsets = spans.offsets.to_numpy()
        flat = spans.values
        page = flat.field("page_no").to_numpy(zero_copy_only=False)
        off = flat.field("offset").to_numpy(zero_copy_only=False)
        wanted: list[np.ndarray] = []
        for row, doc_id in enumerate(table.column("doc_id").to_pylist()):
            lo, hi = int(offsets[row]), int(offsets[row + 1])
            if doc_id in kernel_ids:
                wanted.append(np.arange(lo, hi))
            elif doc_id in mega_ids:
                pos = np.arange(lo, hi)
                order = pos[np.lexsort((pos, off[lo:hi], page[lo:hi]))]
                chunk = page[order] // max(1, config.mega_doc_pages_per_task)
                for c in np.unique(chunk):
                    wanted.append(order[chunk == c])
        rng.shuffle(wanted)
        wanted = wanted[: round(limit * count / total)]
        kinds = flat.field("kind").to_pylist()
        texts = flat.field("text").to_pylist()
        medias = flat.field("media_ref").to_pylist()
        rect = np.stack([flat.field(c).to_numpy(zero_copy_only=False)
                         for c in ("x0", "y0", "x1", "y1")], axis=1)
        conf = flat.field("confidence").to_numpy(zero_copy_only=False)
        orient = flat.field("orientation").to_numpy(zero_copy_only=False)
        calls += [
            ([kinds[i] for i in idx], [texts[i] for i in idx], [medias[i] for i in idx],
             off[idx], page[idx], rect[idx], conf[idx], orient[idx], config)
            for idx in wanted
        ]
    return calls
