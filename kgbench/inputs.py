"""Seeded, cached input generator for the KG benchmark.

Every input is a pure function of (seed, size, datagen.py source): the same
seed gives byte-identical files. Inputs are cached under
`<work>/inputs/<size>-s<seed>-<datagen md5>/`, never inside a directory that
`datagen.ensure_fixture` owns (it deletes files it did not write). A cache
entry is written to a temporary directory and renamed into place, so a
half-written entry is never reused.

What the program receives:

  fixture/                     dims tables + expected_triples of the corpus
  corpus/part-*.parquet        kg_corpus documents, doc order permuted by the
                               seed, split over several files so the scan
                               splits into several tasks
  biopax/owl/<doc_id>.owl      one BioPAX L3 file per document of a seeded
                               choice of the corpus's replicas
  biopax/expected_triples.parquet  the expected triples of those documents
  mega/mega.parquet            one mega document (traced run only; not seeded)

Both workloads share the corpus's dims, so one set-up serves both.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pathways2go_spark import datagen
from pathways2go_spark.biopax_xml import spans_to_rdfxml

# replicas: datagen.build_fixture(replicas) copies of the 12 topologies
# (15 documents, ~310 expected triples per replica).
SIZES = {
    "full": {
        "corpus_replicas": 500,   # 7,500 docs, ~155k triples
        "corpus_files": 16,
        "owl_replicas": 12,       # 180 .owl files, ~3.7k triples
        "mega_rxns": 4_000,       # 16,004 spans
    },
    "smoke": {
        "corpus_replicas": 20,
        "corpus_files": 4,
        "owl_replicas": 2,
        "mega_rxns": 300,
    },
}

_FIXTURE_TABLES = ("onto_ancestors", "onto_xrefs", "complex_parts", "sssom",
                   "accession_map", "drug_ids", "expected_triples")


@dataclass
class Inputs:
    fixture: str
    corpus_docs: str
    owl_dir: str
    owl_expected: str
    owl_files: int
    mega_doc: str
    mega_spans: int
    gen_s: float        # 0.0 when served from the cache


def datagen_version() -> str:
    src = datagen.__loader__.get_source(datagen.__name__)
    return hashlib.md5(src.encode()).hexdigest()[:12]


def _replica(doc_id: str) -> int:
    # datagen doc ids are T{topology}x{replica:05d}[suffix]
    return int(doc_id.split("x", 1)[1][:5])


def _write_fixture(fx: datagen.Fixture, out_dir: str) -> None:
    """datagen's dims + expected_triples tables, without its documents."""
    docs, fx.docs = fx.docs, []
    try:
        datagen.write_fixture(fx, out_dir)
    finally:
        fx.docs = docs
    for name in os.listdir(out_dir):
        if name[: -len(".parquet")] not in _FIXTURE_TABLES:
            os.remove(os.path.join(out_dir, name))


def build_mega_doc(n_rxn: int) -> dict:
    """One pathway of n_rxn chained reactions, all enabled by one hub protein
    and sharing one small molecule: the hub-pathway skew shape
    (tools/skew_bench.py builds the same document). Kept here so the
    benchmark's input cannot drift when the tools change."""
    spans: list[dict] = []
    off = 0

    def push(kind: str, **attrs) -> None:
        nonlocal off
        text = ";".join(f"{k}={v}" for k, v in attrs.items())
        spans.append({"kind": kind, "text": text, "media_ref": "", "offset": off})
        off += len(text) + 1

    push("pathway", id="MEGA-P", displayName="mega pathway", isDisease=0,
         components=",".join(f"MEGA-R{i}" for i in range(n_rxn)))
    push("protein", id="MEGA-E", displayName="hub enzyme", uniprot="U-HUB-1",
         location="cytosol")
    push("small_molecule", id="MEGA-ATP", displayName="hub molecule",
         chebi="CHEBI_15422", location="cytosol")
    for i in range(n_rxn + 1):
        push("small_molecule", id=f"MEGA-M{i}", displayName=f"m{i}",
             chebi=f"CHEBI_77{i:06d}", location="cytosol")
    for i in range(n_rxn):
        push("reaction", id=f"MEGA-R{i}", displayName=f"r{i}",
             direction="LEFT-TO-RIGHT",
             left=f"MEGA-M{i},MEGA-ATP", right=f"MEGA-M{i + 1}")
        push("control", id=f"MEGA-C{i}", type="CATALYSIS",
             controllerId="MEGA-E", controlledId=f"MEGA-R{i}")
        push("step", id=f"MEGA-S{i}", reactionId=f"MEGA-R{i}",
             nextStepIds=f"MEGA-S{i + 1}" if i + 1 < n_rxn else "")
    return {"doc_id": "MEGA-DOC", "spans": spans}


def _generate(dest: str, seed: int, size: dict) -> None:
    rng = random.Random(seed)
    fx = datagen.build_fixture(replicas=size["corpus_replicas"])
    _write_fixture(fx, os.path.join(dest, "fixture"))

    # kg_corpus: the whole fixture, doc order permuted by the seed
    docs = list(fx.docs)
    rng.shuffle(docs)
    ddir = os.path.join(dest, "corpus")
    os.makedirs(ddir)
    n = size["corpus_files"]
    for i in range(n):
        pq.write_table(
            pa.Table.from_pylist(docs[i::n], schema=datagen.DOCUMENTS_SCHEMA),
            os.path.join(ddir, f"part-{i:05d}.parquet"),
        )

    # kg_biopax: a seeded choice of the corpus's replicas, one file per doc
    chosen = set(rng.sample(range(size["corpus_replicas"]), size["owl_replicas"]))
    owl = os.path.join(dest, "biopax", "owl")
    os.makedirs(owl)
    models = set()
    for d in fx.docs:
        if _replica(d["doc_id"]) in chosen:
            models.add(d["doc_id"])
            with open(os.path.join(owl, f"{d['doc_id']}.owl"), "w",
                      encoding="utf-8") as f:
                f.write(spans_to_rdfxml(d["doc_id"], d["spans"]))
    # model_id == doc_id, so the expected set of a doc subset is a filter
    pq.write_table(
        pa.Table.from_pylist(
            [{"model_id": m, "subj": s, "pred": p, "obj": o}
             for m, s, p, o in sorted(fx.expected) if m in models]),
        os.path.join(dest, "biopax", "expected_triples.parquet"),
    )

    os.makedirs(os.path.join(dest, "mega"))
    pq.write_table(
        pa.Table.from_pylist([build_mega_doc(size["mega_rxns"])],
                             schema=datagen.DOCUMENTS_SCHEMA),
        os.path.join(dest, "mega", "mega.parquet"),
    )


def _prune(cache: str, keep: str, max_entries: int = 4) -> None:
    """Bound the cache: a run per seed would otherwise grow it without end."""
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    os.utime(keep)
    for p in entries[max_entries:]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)


def ensure_inputs(work: str, seed: int, size_name: str) -> Inputs:
    size = SIZES[size_name]
    key = f"{size_name}-s{seed}-{datagen_version()}"
    dest = os.path.join(work, "inputs", key)
    gen_s = 0.0
    if not os.path.isdir(dest):
        t0 = time.perf_counter()
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(tmp, seed, size)
        os.replace(tmp, dest)
        gen_s = time.perf_counter() - t0
    _prune(os.path.dirname(dest), keep=dest)
    owl = os.path.join(dest, "biopax", "owl")
    return Inputs(
        fixture=os.path.join(dest, "fixture"),
        corpus_docs=os.path.join(dest, "corpus"),
        owl_dir=owl,
        owl_expected=os.path.join(dest, "biopax", "expected_triples.parquet"),
        owl_files=len(os.listdir(owl)),
        mega_doc=os.path.join(dest, "mega", "mega.parquet"),
        mega_spans=4 * size["mega_rxns"] + 4,
        gen_s=gen_s,
    )
