#!/usr/bin/env python3
"""Shows the benchmark's output checks are not vacuous (about a minute).

    python3 perfbench/selftest.py

Runs one smoke-size extraction job (200 documents, a quarter of them
already committed) and one registry query, checks that their real outputs
pass, then plants wrong outputs and checks each one is rejected:

* two spans of one committed document swapped;
* one committed document dropped;
* one value of one query result row altered.

It also checks that BENCHMARK.json lists exactly the workloads and
metrics run.py reports. Exit code 0 only if every planted fault is
rejected and every real output passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from metrics import END_TO_END, PER_LAYER


def _rewrite(src: str, dst: str, edit) -> None:
    """Copy a committed parquet output with ``edit`` applied to its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(src)
    rows = edit(table.to_pylist())
    os.makedirs(dst)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema),
                   os.path.join(dst, "part-00000.parquet"))


def _swap_two_spans(rows):
    for row in rows:
        spans = row["spans_out"]
        pairs = [(i, j) for i in range(len(spans)) for j in range(i + 1, len(spans))
                 if spans[i]["text"] != spans[j]["text"]]
        if pairs:
            i, j = pairs[0]
            spans[i], spans[j] = spans[j], spans[i]
            return rows
    raise AssertionError("no document with two distinct spans to swap")


def _drop_one(rows):
    return rows[1:]


def _alter_one_value(frame):
    frame = frame.copy()
    col = frame.columns[-1]
    value = frame.at[0, col]
    frame.at[0, col] = value + 1 if not isinstance(value, str) else value + "x"
    return frame


def check_benchmark_json(failures: list[str]) -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for key, defined in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        if listed != list(defined):
            failures.append(f"BENCHMARK.json {key} differs from metrics.py")


def main() -> int:
    from inputs import QUERY_SF_DIR, SMOKE_SPEC, build_corpus, process_pool

    failures: list[str] = []
    check_benchmark_json(failures)
    run.import_package()
    run.adopt_orphans()
    tmp = run.make_run_dir("selftest-")

    from checks import check_job_output, check_query_result, oracle_frames
    from tracing import Tracer

    try:
        with process_pool(run.CORES) as pool:
            corpus = build_corpus(SMOKE_SPEC, 1, "s", os.path.join(tmp, "gen"), pool)
        oracle = oracle_frames(["token_count"], QUERY_SF_DIR)["token_count"]
        spark = run.build_session(tmp)
        tracer = Tracer("selftest", enabled=False)
        job = run.JobRunner(spark, corpus, os.path.join(tmp, "jobs"), tracer)
        job("smoke")
        query = run.QueryRunner(spark, QUERY_SF_DIR, tracer)
        query("token_count", "smoke")
        out, manifest, run_id = job.commits[0]
        result = query.results[0][1]

        cases = {
            "real job output": (check_job_output(corpus, out, manifest, run_id), False),
            "real query result": (check_query_result("token_count", result, oracle), False),
        }
        for name, edit in (("two spans swapped", _swap_two_spans),
                           ("one document dropped", _drop_one)):
            planted = os.path.join(tmp, name.replace(" ", "-"))
            _rewrite(out, planted, edit)
            cases[name] = (check_job_output(corpus, planted, manifest, run_id), True)
        cases["one query row altered"] = (
            check_query_result("token_count", _alter_one_value(result), oracle), True)
    finally:
        try:
            run.shutdown_jvm()
        finally:
            run.stop_processes()
            shutil.rmtree(tmp, ignore_errors=True)

    for name, (fails, planted) in cases.items():
        ok = bool(fails) == planted
        verdict = "rejected" if fails else "passed"
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {verdict}"
              + (f" ({fails[0]})" if fails else ""))
        if not ok:
            failures.append(name)
    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
