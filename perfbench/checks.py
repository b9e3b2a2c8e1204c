"""Output checks, run outside every timed window.

Job outputs are read back with pyarrow (not Spark) and compared with the
expected digests of ``inputs.build_corpus``; query results are compared
with their DuckDB oracles by the comparison tests/test_queries.py uses.
Each check returns a list of failure strings; empty means correct.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import ROOT, Corpus, seq_digest

MAX_REPORTED = 5


def committed_digests(table) -> list[tuple[str, str]]:
    """(doc_id, digest of spans_out) per committed row, in file order."""
    spans = table.column("spans_out").combine_chunks()
    offsets = spans.offsets.to_pylist()
    flat = spans.values
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    medias = flat.field("media_ref").to_pylist()
    offs = flat.field("offset").to_pylist()
    ids = table.column("doc_id").to_pylist()
    out = []
    for row, doc_id in enumerate(ids):
        lo, hi = offsets[row], offsets[row + 1]
        out.append((doc_id, seq_digest(
            zip(kinds[lo:hi], texts[lo:hi], medias[lo:hi], offs[lo:hi]))))
    return out


def check_job_output(corpus: Corpus, out_path: str, manifest_path: str,
                     run_id: str) -> list[str]:
    """Every committed document against the expected output and the job
    invariants: one row per input document outside the done-set, no done
    document, status ok, n_spans_in = input span count, manifest n_docs =
    committed row count."""
    fails: list[str] = []
    table = pq.read_table(out_path)
    table = table.filter(pc.equal(table.column("run_id"), run_id))
    todo = {d.doc_id for d in corpus.todo}
    done = {d.doc_id for d in corpus.docs if d.done}
    ids = table.column("doc_id").to_pylist()
    seen: set[str] = set()
    for doc_id in ids:
        if doc_id in seen:
            fails.append(f"duplicate row for {doc_id}")
        seen.add(doc_id)
    for doc_id in sorted(seen & done)[:MAX_REPORTED]:
        fails.append(f"done document emitted: {doc_id}")
    for doc_id in sorted(todo - seen)[:MAX_REPORTED]:
        fails.append(f"document missing: {doc_id}")
    for doc_id in sorted(seen - todo - done)[:MAX_REPORTED]:
        fails.append(f"unknown document: {doc_id}")
    for doc_id, status, n_in in zip(ids, table.column("status").to_pylist(),
                                    table.column("n_spans_in").to_pylist()):
        if status != "ok":
            fails.append(f"{doc_id}: status {status!r}")
        if doc_id in corpus.n_spans and n_in != corpus.n_spans[doc_id]:
            fails.append(f"{doc_id}: n_spans_in {n_in} != {corpus.n_spans[doc_id]}")
    for doc_id, digest in committed_digests(table):
        if doc_id in todo and digest != corpus.expected[doc_id]:
            fails.append(f"{doc_id}: span sequence differs from the reference twin")
    manifest = pq.read_table(manifest_path).to_pydict()
    rows = [n for r, n in zip(manifest["run_id"], manifest["n_docs"]) if r == run_id]
    if rows != [table.num_rows]:
        fails.append(f"manifest n_docs {rows} != committed rows {table.num_rows}")
    return fails


def _test_queries():
    name = "perfbench_test_queries"
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(ROOT, "tests", "test_queries.py"))
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    return sys.modules[name]


def oracle_frames(names, sf_dir: str) -> dict:
    """DuckDB oracle result of each query, canonicalized."""
    tq = _test_queries()
    from swissgeol_ocr_spark.plans.queries import QUERIES

    return {n: tq._canon(tq._duck(QUERIES[n][1], sf_dir)) for n in names}


def check_query_result(name: str, result, oracle) -> list[str]:
    """The comparison of tests/test_queries.py: columns, row count, canonical
    values."""
    tq = _test_queries()
    if sorted(result.columns) != sorted(oracle.columns):
        return [f"{name}: columns {sorted(result.columns)} != {sorted(oracle.columns)}"]
    if len(result) != len(oracle):
        return [f"{name}: rows {len(result)} != {len(oracle)}"]
    if not tq._values_equal(tq._canon(result), oracle):
        return [f"{name}: values differ from the DuckDB oracle"]
    return []
