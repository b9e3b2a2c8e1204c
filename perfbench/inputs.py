"""Seeded inputs and expected outputs for the extraction-job workloads.

Every job input is a spans table in the shape ``documents_to_spans`` /
``documents_to_word_spans`` emit, built over salted replicas of the sf0.1
``documents`` texts (a copy lives in ``perfbench/data``). The tables are
synthesized by the pure-Python corpus twin in ``scripts/make_golden.py``
(pinned field-exact to the Spark generator by
tests/test_pipeline.py::test_python_corpus_twin_matches_spark), and the
expected output of every document comes from the same twin plus
``scripts/ref_twin.py`` — neither imports the engine's kernel, so the
expected sequences are computed without the package under test.

Layout class and mega membership are md5 functions of ``doc_id``, so a
salt derived from the seed gives each seed a different corpus. The corpus
is drawn with exact per-class quotas (layout x mega), which keeps the work
of a run the same from seed to seed while the documents change.
"""

from __future__ import annotations

import hashlib
import importlib.util
import multiprocessing
import os
import random
import sys
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DOCS_PARQUET = os.path.join(DATA, "documents_sf0.1.parquet")
QUERY_SF_DIR = os.path.join(DATA, "sf0.01")

SPAN_FIELDS = (
    ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
    ("offset", pa.int32()), ("page_no", pa.int32()), ("x0", pa.float64()),
    ("y0", pa.float64()), ("x1", pa.float64()), ("y1", pa.float64()),
    ("confidence", pa.float64()), ("orientation", pa.float64()),
)
INPUT_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct(list(SPAN_FIELDS)))),
    ("n_spans", pa.int32()),
    ("has_media", pa.bool_()),
])


@dataclass(frozen=True)
class JobSpec:
    """Shape of one extraction-job workload."""

    granularity: str          # "lines" or "words"
    n_docs: int               # documents in the input table
    done_share: float = 0.0   # share of doc_ids pre-committed (resume)
    mega_factor: int = 40     # word repeat of the md5-selected mega subset
    mega_docs: int = 0        # mega docs at mega_factor (0 = natural ~1/101)
    mega_layouts: tuple[int, ...] = (0, 1, 2, 3)
    mega_words: tuple[int, int] = (0, 10**9)  # base-text word band for mega


# The two job inputs of the extract_jobs workload.
CORPORA = {
    # line granularity, layouts 0-3, a quarter of the doc_ids already
    # committed (resume), and two born-digital mega docs drawn from
    # 56-60-word texts at 3000x, which cross the 20k-span split cutoff by
    # 5-12% (21k-22.5k lines): the page-split -> chunk-extract ->
    # reassemble subtree runs in every lines job
    "lines": JobSpec("lines", n_docs=3202, done_share=0.25, mega_factor=3000,
                     mega_docs=2, mega_layouts=(0, 3), mega_words=(56, 60)),
    # word granularity: every document runs E1 word->line grouping
    "words": JobSpec("words", n_docs=2000),
}
SMOKE_SPEC = JobSpec("lines", n_docs=200, done_share=0.25)
PART_FILES = 8   # the input table is written as this many parquet files

def _load(name: str):
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, sys.argv[:1]   # make_golden reads argv[1]
    try:
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def twin():
    """scripts/make_golden.py (corpus twin + ref_twin.twin_extract)."""
    return _load("make_golden")


def seq_digest(spans) -> str:
    """Digest of an ordered (kind, text, media_ref, offset) sequence."""
    return hashlib.md5(
        repr([(str(k), str(t), str(m), int(o)) for k, t, m, o in spans]).encode()
    ).hexdigest()


@dataclass
class Doc:
    doc_id: str
    text: str
    layout: int
    mega: bool
    done: bool = False


@dataclass
class Corpus:
    """A generated job input plus what the checks expect of its output."""

    spec: JobSpec
    input_path: str
    done_path: str | None
    docs: list[Doc]
    expected: dict[str, str] = field(default_factory=dict)     # doc_id -> digest
    n_spans: dict[str, int] = field(default_factory=dict)      # doc_id -> input spans
    has_media: dict[str, bool] = field(default_factory=dict)
    pages: dict[str, int] = field(default_factory=dict)

    @property
    def todo(self) -> list[Doc]:
        return [d for d in self.docs if not d.done]

    def spans_todo(self) -> int:
        return sum(self.n_spans[d.doc_id] for d in self.todo)


def select_docs(spec: JobSpec, seed: int, salt: str) -> list[Doc]:
    """Draw salted replicas with exact (layout, mega) quotas."""
    mg = twin()
    table = pq.read_table(DOCS_PARQUET, columns=["doc_id", "text"]).to_pydict()
    texts = list(zip(table["doc_id"], table["text"]))
    rng = random.Random(f"{salt}:{seed}")
    layouts = (0,) if spec.granularity == "words" else (0, 1, 2, 3)
    n_mega = spec.mega_docs if spec.mega_docs else round(spec.n_docs / mg.MEGA_MOD)
    mega_layouts = [lay for lay in layouts if lay in spec.mega_layouts]
    quota: dict[tuple[int, bool], int] = {}
    for i, lay in enumerate(mega_layouts):
        quota[(lay, True)] = n_mega // len(mega_layouts) + (i < n_mega % len(mega_layouts))
    for i, lay in enumerate(layouts):
        n_plain = (spec.n_docs - n_mega) // len(layouts)
        quota[(lay, False)] = n_plain + (i < (spec.n_docs - n_mega) % len(layouts))
    lo, hi = spec.mega_words
    mega_texts = [t for t in texts if lo <= len(t[1].split(" ")) <= hi]
    docs: list[Doc] = []
    k = 0
    while len(docs) < spec.n_docs:
        doc_id = f"{rng.randrange(10**6)}-{salt}{seed}-{k}"
        k += 1
        lay = mg.h16(f"{doc_id}:l") % 4 if spec.granularity == "lines" else 0
        mega = mg.h16(f"{doc_id}:m") % mg.MEGA_MOD == 0
        if quota.get((lay, mega), 0) <= 0:
            continue
        quota[(lay, mega)] -= 1
        _, text = rng.choice(mega_texts if mega else texts)
        docs.append(Doc(doc_id, text, mg.h16(f"{doc_id}:l") % 4, mega))
    if spec.done_share:
        by_class: dict[tuple[int, bool], list[Doc]] = {}
        for d in docs:
            by_class.setdefault((d.layout, d.mega), []).append(d)
        for members in by_class.values():
            for d in rng.sample(members, round(len(members) * spec.done_share)):
                d.done = True
    return docs


# --- pool workers (spawned processes: plain module-level functions) -------

def _synth(mg, spec: JobSpec, doc_id: str, text: str):
    if spec.granularity == "words":
        return mg.synth_word_spans(doc_id, text)
    return mg.synth_spans(doc_id, text)


def _extract(mg, spec: JobSpec, spans):
    return mg.twin_extract(spans, build_lines_from_words=spec.granularity == "words")


def _twin_for(spec: JobSpec):
    mg = twin()
    # the twin's mega_words reads its module-level MEGA_FACTOR, as
    # documents_to_spans(mega_factor=...) takes the workload's own factor
    mg.MEGA_FACTOR = spec.mega_factor
    return mg


def _write_part(args):
    """Synthesize one part file; return per-doc (expected digest, n_spans,
    has_media, pages)."""
    spec, path, rows = args
    mg = _twin_for(spec)
    cols = {name: [] for name, _ in SPAN_FIELDS}
    offsets, ids, n_spans, has_media, meta = [0], [], [], [], {}
    for doc_id, text in rows:
        spans = _synth(mg, spec, doc_id, text)
        for pos, (kind, txt, media, page, rect, conf, orient) in enumerate(spans):
            cols["kind"].append(kind)
            cols["text"].append(txt)
            cols["media_ref"].append(media)
            cols["offset"].append(pos)          # dense draw order, as generated
            cols["page_no"].append(page)
            for name, v in zip(("x0", "y0", "x1", "y1"), rect):
                cols[name].append(v)
            cols["confidence"].append(conf)
            cols["orientation"].append(orient)
        offsets.append(len(cols["kind"]))
        ids.append(doc_id)
        media = any(s[0] == "media" for s in spans)
        n_spans.append(len(spans))
        has_media.append(media)
        digest = seq_digest(_extract(mg, spec, spans))
        meta[doc_id] = (digest, len(spans), media, len({s[3] for s in spans}))
    struct = pa.StructArray.from_arrays(
        [pa.array(cols[n], type=t) for n, t in SPAN_FIELDS],
        fields=[pa.field(n, t) for n, t in SPAN_FIELDS],
    )
    table = pa.table(
        [
            pa.array(ids, pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct),
            pa.array(n_spans, pa.int32()),
            pa.array(has_media, pa.bool_()),
        ],
        schema=INPUT_SCHEMA,
    )
    pq.write_table(table, path)
    return meta


def process_pool(procs: int):
    """Spawned worker processes for corpus synthesis and the twin."""
    return multiprocessing.get_context("spawn").Pool(procs)


def build_corpus(spec: JobSpec, seed: int, salt: str, work: str, pool) -> Corpus:
    """Write the input table (and done-set) under ``work``; compute the
    expected output digest of every document on ``pool``."""
    docs = select_docs(spec, seed, salt)
    in_path = os.path.join(work, "input")
    os.makedirs(in_path)
    parts: list[list] = [[] for _ in range(PART_FILES)]
    for i, d in enumerate(docs):
        parts[i % PART_FILES].append((d.doc_id, d.text))
    tasks = [(spec, os.path.join(in_path, f"part-{i:05d}.parquet"), rows)
             for i, rows in enumerate(parts)]
    corpus = Corpus(spec, in_path, None, docs)
    for meta in pool.map(_write_part, tasks, chunksize=1):
        for doc_id, (digest, n, media, pages) in meta.items():
            corpus.expected[doc_id] = digest
            corpus.n_spans[doc_id] = n
            corpus.has_media[doc_id] = media
            corpus.pages[doc_id] = pages
    done = [d.doc_id for d in docs if d.done]
    if done:
        corpus.done_path = os.path.join(work, "done")
        os.makedirs(corpus.done_path)
        pq.write_table(pa.table({"doc_id": pa.array(done, pa.string())}),
                       os.path.join(corpus.done_path, "part-00000.parquet"))
    return corpus
