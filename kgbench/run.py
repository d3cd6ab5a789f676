"""KG-construction benchmark: one command, named workloads, correctness checks.

    python3 kgbench/run.py --workload kg_corpus --seed 1 --seconds 15 --trace 0

Runs from the root of any checkout of the repository. One driver process at
local[nproc] runs one job at a time, back to back (a closed loop with a
single client and no threads beyond Spark's own task slots).

--trace 0  end-to-end run: set-up, untimed warm-up jobs (WARMUP_S), then jobs
           back to back for --seconds; prints every end-to-end metric of
           BENCHMARK.json.
--trace 1  traced run: spans around the calls into each module plus Spark's
           own event log; prints every per-layer metric of BENCHMARK.json.
           It runs a fixed sweep (see README.md), not a timed window.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {value, unit}}}
The line before it is the host record (nproc, steal per job, load average,
versions), also kept with the spans under .kgbench_work/results/.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")

WORKLOADS = ("kg_corpus", "kg_biopax")
WARMUPS = 2             # untimed jobs before the timed window, at least ...
WARMUP_S = {            # ... and for at least this long (end-to-end run):
    "kg_corpus": 20.0,  # 4-6 jobs, after which a job's time falls little more
    "kg_biopax": 15.0,  # 2 jobs; later jobs keep getting a little faster,
}                       # but the time limit of a run leaves no room
MIN_TIMED = 3           # timed jobs per run, even past --seconds
SERIAL_REPLICAS = 40    # datagen replicas (600 docs) timed through the
                        # per-doc rule core on the driver
KEY = ["model_id", "subj", "pred", "obj"]

# (distinct triples, xxhash64 sum) of the mega doc's distributed-path output,
# pinned from the tree the benchmark was defined on, where it was also
# cross-checked equal to the fused path's output on the same doc.
MEGA_FINGERPRINT = {
    "full": (48005, "-1646119497163675026075"),
    "smoke": (3605, "83015757807555156824"),
}


@dataclass
class Ctx:
    spark: object
    dims: object
    prepared: object
    inp: object
    setup_s: float
    expected: dict = field(default_factory=dict)   # workload -> fingerprint


@dataclass
class Job:
    wall_s: float | None
    errors: list
    steal_pct: float
    n_triples: int = 0
    rss_mb: float = 0.0     # the process tree's peak resident memory in the job


# ----------------------------------------------------------------------
# session and set-up
# ----------------------------------------------------------------------

def start_session(master: str, extra: dict | None = None):
    from pathways2go_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    conf.update(extra or {})
    return get_spark(master=master, app_name="kgbench", extra=conf)


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM has
    exited, so the next set-up is a cold one, as a user's first is."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()      # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def setup(master: str, inp, extra: dict | None = None) -> Ctx:
    """Timed set-up: Spark session (JVM launch included when none is
    running), load_dims and prepare_local_dims."""
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.pipeline import prepare_local_dims

    t0 = time.perf_counter()
    spark = start_session(master, extra)
    dims = load_dims(spark, inp.fixture)
    prepared = prepare_local_dims(dims)
    return Ctx(spark, dims, prepared, inp, time.perf_counter() - t0)


def jvm_live_mb(spark) -> float:
    """Runs a full collection of the driver JVM's heap and returns the heap
    then in use: the data the JVM retains between jobs."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def hash_sums(frames: list) -> list[tuple[int, str]]:
    """(rows, sum of xxhash64 over the triple keys of every row) of each
    frame, in one aggregation over their union."""
    from functools import reduce

    from pyspark.sql import functions as F

    union = reduce(lambda a, b: a.unionByName(b),
                   (df.select(*KEY, F.lit(i).alias("run"))
                    for i, df in enumerate(frames)))
    got = {r["run"]: (int(r["n"]), str(r["h"] or 0)) for r in union.groupBy("run").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*KEY).cast("decimal(38,0)")).alias("h"),
    ).collect()}
    return [got.get(i, (0, "0")) for i in range(len(frames))]


def fingerprint(df) -> tuple[int, str]:
    """Order-free (count, sum of xxhash64) over the distinct triple keys."""
    return hash_sums([df.select(*KEY).distinct()])[0]


def check_triples(frames: list, want: tuple[int, str]) -> list[tuple[list, int, int]]:
    """(errors, distinct triples, rows) of each frame: its distinct triple
    set against the fingerprint `want`. A frame whose rows have the expected
    set's count and hash sum is that set, without duplicates, so the distinct
    pass runs only on a frame that differs."""
    results = []
    for df, sums in zip(frames, hash_sums(frames)):
        fp = want if sums == want else fingerprint(df)
        errors = [] if fp == want else [f"triples {fp} != expected {want}"]
        results.append((errors, fp[0], sums[0]))
    return results


def load_expected(c: Ctx, workloads=WORKLOADS) -> None:
    paths = {"kg_corpus": os.path.join(c.inp.fixture, "expected_triples.parquet"),
             "kg_biopax": c.inp.owl_expected}
    for w in workloads:
        c.expected[w] = fingerprint(c.spark.read.parquet(paths[w]))


# ----------------------------------------------------------------------
# workload jobs: plain (as a user writes them) and traced (each layer
# materialized inside its own span), plus the per-job correctness checks
# ----------------------------------------------------------------------

def corpus_job(c: Ctx, out: str):
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.sinks import write_triples

    docs = read_documents(c.spark, c.inp.corpus_docs)
    res = run_pipeline(c.spark, docs, c.dims, prepared=c.prepared)
    write_triples(c.spark, res.triples, out)


def corpus_job_traced(c: Ctx, out: str, tr):
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.sinks import write_triples

    with tr.span("kg_corpus.job"):
        with tr.span("ingest.scan"):
            docs = read_documents(c.spark, c.inp.corpus_docs)
            # runs the size(spans.kind) routing probe; the rest stays lazy
            res = run_pipeline(c.spark, docs, c.dims, prepared=c.prepared)
        with tr.span("pipeline.fused"):
            t = res.triples.localCheckpoint(eager=True)
        with tr.span("sinks.write_triples") as s:
            write_triples(c.spark, t, out)
    files = glob.glob(os.path.join(out, "data", "bucket=*", "*.parquet"))
    s.counts = {"files": len(files),
                "mb": sum(os.path.getsize(f) for f in files) / 2**20}


def corpus_check(c: Ctx, runs: list) -> list[tuple[list, int]]:
    """runs: [(out, handle)]; one (errors, distinct triples) per run."""
    from pathways2go_spark.sinks import read_triples

    results = []
    checked = check_triples([read_triples(c.spark, out) for out, _ in runs],
                            c.expected["kg_corpus"])
    for (out, _), (errors, n, rows) in zip(runs, checked):
        manifest = 0
        for p in glob.glob(os.path.join(out, "_lineage", "bucket=*.json")):
            with open(p) as f:
                manifest += json.load(f)["n_triples"]
        if manifest != rows:
            errors.append(f"manifest n_triples {manifest} != {rows} rows written")
        results.append((errors, n))
    return results


def biopax_job(c: Ctx, out: str):
    from pathways2go_spark.biopax_xml import read_rdfxml
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.shex import shex_validate
    from pathways2go_spark.sinks import write_ttl

    docs = read_rdfxml(c.spark, c.inp.owl_dir)
    t = run_pipeline(c.spark, docs, c.dims, prepared=c.prepared).triples.cache()
    try:
        write_ttl(t, out)
        return shex_validate(t, c.dims.onto_ancestors).count()
    finally:
        t.unpersist()


def biopax_job_traced(c: Ctx, out: str, tr):
    from pyspark.sql import functions as F

    from pathways2go_spark.biopax_xml import read_rdfxml
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.shex import shex_validate
    from pathways2go_spark.sinks import write_ttl

    with tr.span("kg_biopax.job"):
        with tr.span("biopax_xml.parse"):
            docs = read_rdfxml(c.spark, c.inp.owl_dir).localCheckpoint(eager=True)
        with tr.span("pipeline.fused_biopax"):
            t = run_pipeline(c.spark, docs, c.dims, prepared=c.prepared) \
                .triples.localCheckpoint(eager=True)
        with tr.span("sinks.write_ttl") as s:
            write_ttl(t, out)
        with tr.span("shex.validate") as v:
            violations = shex_validate(t, c.dims.onto_ancestors).count()
    s.counts = {"files": len(_data_files(out))}
    v.counts = {"violations": violations}
    tr.last("biopax_xml.parse").counts = {
        "quarantined": docs.filter(F.col("spans").isNull()).count()}
    return violations


def _data_files(out: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
            if not f.startswith((".", "_"))]


def biopax_check(c: Ctx, runs: list) -> list[tuple[list, int]]:
    """Checks the TTL files themselves: their lines parsed back against the
    expected set, and their line count against its size. runs:
    [(out, shape violations)]."""
    from pathways2go_spark.sinks import parse_ttl_lines

    want = c.expected["kg_biopax"]
    texts = []
    for out, _ in runs:
        lines = []
        for p in _data_files(out):
            # lines end at "\n" only, as the sink writes them
            with open(p, encoding="utf-8", newline="\n") as f:
                lines += [ln.rstrip("\n") for ln in f]
        texts.append(lines)
    results = []
    checked = check_triples(
        [parse_ttl_lines(c.spark.createDataFrame([(ln,) for ln in lines], "line string"))
         for lines in texts], want)
    for (_, violations), (errors, n, lines) in zip(runs, checked):
        if lines != want[0]:
            errors.append(f"TTL lines {lines} != {want[0]} triples")
        if violations:
            errors.append(f"{violations} shape violations")
        results.append((errors, n))
    return results


JOBS = {
    "kg_corpus": (corpus_job, corpus_job_traced, corpus_check),
    "kg_biopax": (biopax_job, biopax_job_traced, biopax_check),
}


def time_job(c: Ctx, workload: str, out: str, tr=None, traced: bool = False):
    """One job on fresh output, timed from input on disk to complete output.
    With a tracer, the plain job runs inside one `<workload>.untraced` span
    and the traced job records its own layer spans. Returns (Job, handle);
    the output stays on disk for check_jobs."""
    from host import cpu_ticks, steal_pct

    plain, traced_fn, _ = JOBS[workload]
    shutil.rmtree(out, ignore_errors=True)
    before = cpu_ticks()
    t0 = time.perf_counter()
    try:
        if traced:
            handle = traced_fn(c, out, tr)
        else:
            with tr.span(f"{workload}.untraced") if tr else nullcontext():
                handle = plain(c, out)
    except Exception:  # a failed job is counted, and the run goes on
        traceback.print_exc()
        return Job(None, [traceback.format_exc(limit=1)],
                   steal_pct(before, cpu_ticks())), None
    return Job(time.perf_counter() - t0, [], steal_pct(before, cpu_ticks())), handle


def check_jobs(c: Ctx, workload: str, pending: list) -> list[Job]:
    """The workload's correctness checks, outside any timed region, on the
    outputs of many jobs at once; the outputs are deleted after them.
    pending: [(out, Job, handle)]."""
    ok = [(out, handle) for out, job, handle in pending if not job.errors]
    try:
        results = iter(JOBS[workload][2](c, ok) if ok else [])
        for _, job, _ in pending:
            if not job.errors:
                job.errors, job.n_triples = next(results)
    except Exception:
        traceback.print_exc()
        for _, job, _ in pending:
            job.errors = job.errors or [traceback.format_exc(limit=1)]
    finally:
        for out, _, _ in pending:
            shutil.rmtree(out, ignore_errors=True)
    jobs = [job for _, job, _ in pending]
    for e in (e for j in jobs for e in j.errors):
        print(f"CHECK FAILED [{workload}]: {e}", file=sys.stderr)
    return jobs


def run_jobs(c: Ctx, workload: str, plan: tuple, tr=None, rss=None) -> list[Job]:
    """Runs the jobs of `plan` back to back, each on its own output, then
    checks them all at once. A plan entry is None for an untraced warm-up,
    False for an untraced job timed in a `<workload>.untraced` span, True for
    a traced job; with an RssSampler, the peak resident memory of each of the
    latter two goes into Job.rss_mb."""
    root = os.path.join(WORK, "out", workload)
    shutil.rmtree(root, ignore_errors=True)
    pending = []
    for traced in plan:
        out = os.path.join(root, str(len(pending)))
        if rss and traced is not None:
            rss.lap()
        job, handle = time_job(c, workload, out, None if traced is None else tr,
                               bool(traced))
        if rss and traced is not None:
            job.rss_mb = rss.lap()[0]
        pending.append((out, job, handle))
    return check_jobs(c, workload, pending)


# ----------------------------------------------------------------------
# end-to-end run
# ----------------------------------------------------------------------

def run_e2e(args, inp, record: dict) -> tuple[list, dict]:
    from host import RssSampler, nproc

    c = setup(f"local[{nproc()}]", inp)
    load_expected(c, [args.workload])
    root = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(root, ignore_errors=True)
    pending = []    # every job writes its own output; all are checked at the end
    live_mb = []    # JVM heap in use after the full collection before each job

    def next_job() -> float:
        # every job starts from a collected heap; outside the timed region
        live_mb.append(jvm_live_mb(c.spark))
        out = os.path.join(root, str(len(pending)))
        pending.append((out, *time_job(c, args.workload, out)))
        return pending[-1][1].wall_s or 0.0

    # untimed warm-up (JIT, codegen, Python workers, heap growth)
    t0, warmup_s = time.perf_counter(), WARMUP_S[args.workload]
    while len(pending) < WARMUPS or time.perf_counter() - t0 < warmup_s:
        next_job()
    n_warm = len(pending)
    rss_mb = []     # peak resident memory of the Python processes in each timed job
    with RssSampler(jvm=False) as rss:
        t0 = time.perf_counter()
        while True:
            last = next_job()
            rss_mb.append(rss.lap()[1])
            if (len(pending) - n_warm >= MIN_TIMED
                    and time.perf_counter() - t0 + last / 2 >= args.seconds):
                break
    t0 = time.perf_counter()
    jobs = check_jobs(c, args.workload, pending)
    record["check_s"] = time.perf_counter() - t0
    stop_session(c.spark)
    timed = [j for j in jobs[n_warm:] if not j.errors]
    wall = statistics.median(j.wall_s for j in timed) if timed else float("nan")
    failed = sum(1 for j in jobs if j.errors)
    n_triples = max((j.n_triples for j in jobs), default=0)
    record.update(setup_s=c.setup_s, walls_s=[j.wall_s for j in jobs[n_warm:]],
                  warmups_s=[j.wall_s for j in jobs[:n_warm]],
                  steal_pct=[j.steal_pct for j in jobs],
                  python_rss_mb=rss_mb, live_mb=live_mb,
                  n_triples=n_triples)
    metrics = {
        "setup_s": c.setup_s,
        "wall_s": wall,
        "triples_per_s": n_triples / wall,
        "python_rss_mb": statistics.median(rss_mb),
        "jvm_live_mb": statistics.median(live_mb[n_warm:]),
        "success_frac": 1.0 - failed / len(jobs),
    }
    return jobs, metrics


# ----------------------------------------------------------------------
# traced run
# ----------------------------------------------------------------------

def serial_sample(c: Ctx) -> dict:
    """Driver-side serial calls of the fused path's per-doc rule core on a
    fixed, unseeded sample: stage A extract, the stage-A dedup the fused UDF
    applies (restated here; it is inline in
    stage_a_local.fused_pipeline_udf), and stage B rules. Median of five
    passes."""
    from pathways2go_spark import vocab as V
    from pathways2go_spark.datagen import build_fixture
    from pathways2go_spark.stage_a_local import extract_doc
    from pathways2go_spark.stage_b_local import apply_rules_rows

    docs = [(d["doc_id"], [s["kind"] for s in d["spans"]],
             [s["text"] for s in d["spans"]])
            for d in build_fixture(replicas=SERIAL_REPLICAS).docs]
    a_dims, b_dims = c.prepared.a_dims, c.prepared.b_dims
    passes = []
    for _ in range(5):
        ta = td = tb = 0.0
        raw_n = kept_n = out_n = 0
        for doc_id, kinds, texts in docs:
            t0 = time.perf_counter()
            raw, drugs = extract_doc(doc_id, kinds, texts, a_dims)
            t1 = time.perf_counter()
            best: dict = {}
            for s, p, o, rule in raw:
                k = (s, p, o)
                if k not in best or rule < best[k]:
                    best[k] = rule
            t2 = time.perf_counter()
            rows = apply_rules_rows(
                doc_id, ((s, p, o, V.ECO_IMPORTED, r) for (s, p, o), r in best.items()),
                drugs, b_dims) if best else []
            t3 = time.perf_counter()
            ta, td, tb = ta + t1 - t0, td + t2 - t1, tb + t3 - t2
            raw_n, kept_n, out_n = raw_n + len(raw), kept_n + len(best), out_n + len(rows)
        passes.append((ta, td, tb))
    per_kdoc = 1e6 / len(docs)    # seconds total -> ms per 1000 docs
    return {
        "stage_a_local.extract_ms_per_kdoc": statistics.median(p[0] for p in passes) * per_kdoc,
        "stage_a_local.dedup_ms_per_kdoc": statistics.median(p[1] for p in passes) * per_kdoc,
        "stage_a_local.dedup_keep_ratio": kept_n / raw_n,
        "stage_b_local.rules_ms_per_kdoc": statistics.median(p[2] for p in passes) * per_kdoc,
        "stage_b_local.out_triples_per_doc": out_n / len(docs),
    }


def mega_section(c: Ctx, tr, size: str) -> list:
    """The distributed (mega-document) path, on a mega doc small enough for
    the per-run time limit. At the default thresholds only a doc of more
    than 500k spans takes this path, which alone takes ~95 s on 4 cores, so
    the probe lowers span_threshold to half the doc's span count and
    local_threshold to half its stage-A triple count: the doc takes the
    distributed path and its model the stage_b.py rule chain. Every
    end-to-end workload keeps the defaults."""
    from pathways2go_spark import pipeline
    from pathways2go_spark.ingest import element_links, ingest, read_documents
    from pathways2go_spark.stage_a import extract
    from spans import call_times

    mega = read_documents(c.spark, c.inp.mega_doc)

    with tr.span("ingest.mega_parse"):
        el, _ = ingest(mega, repartition=c.spark.sparkContext.defaultParallelism)
        el = el.localCheckpoint(eager=True)
        links = element_links(el).localCheckpoint(eager=True)
    with tr.span("stage_a.extract") as s:
        sa = extract(el, links, c.dims).triples.localCheckpoint(eager=True)
    s.counts = {"triples": sa.count()}
    # stage B is what run_pipeline runs once it hands the checkpointed
    # stage-A triples to the rule chain, up to the end of the job
    with call_times(pipeline, "_stage_b_distributed") as calls, \
            tr.span("pipeline.mega") as m:
        out = pipeline.run_pipeline(
            c.spark, mega, c.dims, prepared=c.prepared,
            span_threshold=c.inp.mega_spans // 2,
            local_threshold=s.counts["triples"] // 2,
        ).triples.localCheckpoint(eager=True)
    tr.add("stage_b.chain", calls[0][0] if calls else m.end, m.end, parent=m)
    errors = [] if calls else ["mega doc: the stage_b.py rule chain never ran"]
    fp, pinned = fingerprint(out), tuple(MEGA_FINGERPRINT[size])
    if fp != pinned:
        errors.append(f"mega doc: {fp} != pinned {pinned}")
    for e in errors:
        print(f"CHECK FAILED [mega]: {e}", file=sys.stderr)
    return errors


def run_traced(args, inp, record: dict) -> tuple[list, dict]:
    from host import RssSampler, nproc
    from spans import EventLog, Tracer, eventlog_conf

    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    # only the latest run's event log is kept
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    evdir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(evdir)
    tr = Tracer(run_id)
    master = f"local[{nproc()}]"
    with tr.span("setup"):
        c = setup(master, inp, eventlog_conf(evdir))
    load_expected(c)

    # per workload: warm-up jobs, then untraced (U) and traced (T) jobs.
    # The named workload runs U T T U, so that what is left of the warm-up
    # drift cancels in trace.overhead_frac; kg_corpus also needs U as the
    # local[nproc] side of the scaling ratio.
    checks, plain = [], {}
    peak_mb = []    # peak resident memory of the named workload's U jobs
    # sampling the JVM costs ~50 ms a read (see host.tree_rss_mb): once a second
    with RssSampler(interval_s=1.0) as rss:
        for w in WORKLOADS:
            timed_plain = w in (args.workload, "kg_corpus")
            warm = WARMUPS if timed_plain else 1
            order = ((False, True, True, False) if w == args.workload
                     else (False, True) if timed_plain else (True,))
            jobs = run_jobs(c, w, (None,) * warm + order, tr, rss)
            checks += jobs
            for traced, job in zip(order, jobs[warm:]):
                if not traced:
                    plain.setdefault(w, []).append(job.wall_s or float("nan"))
                    if w == args.workload:
                        peak_mb.append(job.rss_mb)
    layers = serial_sample(c)
    mega_errors = mega_section(c, tr, args.size)
    stop_session(c.spark)

    # N -> 4N: the warm kg_corpus job at local[1] against local[nproc]
    c1 = setup("local[1]", inp)
    c1.expected = c.expected
    local1 = run_jobs(c1, "kg_corpus", (None, None))     # a warm-up, then the one
    checks += local1
    j1 = local1[1]
    stop_session(c1.spark)

    tr.write(os.path.join(WORK, "results", f"{run_id}.spans.json"))
    ev = EventLog(evdir)

    def span(name):
        return tr.last(name)

    def win(name):
        s = span(name)
        return ev.window(s.start, s.end)

    mb = 2**20
    fused = span("pipeline.fused")
    py = win("pipeline.fused")["python"]
    durs = ev.python_task_durations(fused.start, fused.end)
    sa, sb = win("stage_a.extract"), win("stage_b.chain")
    jobs = [s for s in tr.spans if s.name == f"{args.workload}.job"]
    untraced = statistics.mean(plain[args.workload])
    n4 = nproc()
    layers.update({
        "mem.peak_rss_mb": max(peak_mb),
        "ingest.scan_s": span("ingest.scan").dur,
        "ingest.scan_mb": win("ingest.scan")["input_mb"],
        "ingest.mega_parse_s": span("ingest.mega_parse").dur,
        "pipeline.fused_s": fused.dur,
        "pipeline.tasks": len(durs),
        "pipeline.task_p50_s": statistics.median(durs) if durs else 0.0,
        "pipeline.task_max_s": max(durs, default=0.0),
        "pipeline.python_boot_s": py.get("time to start Python workers", 0) / 1e3,
        "pipeline.python_init_s": py.get("time to initialize Python workers", 0) / 1e3,
        "pipeline.python_run_s": py.get("time to run Python workers", 0) / 1e3,
        "pipeline.arrow_sent_mb": py.get("data sent to Python workers", 0) / mb,
        "pipeline.arrow_recv_mb": py.get("data returned from Python workers", 0) / mb,
        "pipeline.mega_s": span("pipeline.mega").dur,
        "pipeline.scaling_eff_1to4": (j1.wall_s or float("nan"))
        / (n4 * statistics.mean(plain["kg_corpus"])),
        "stage_a.extract_s": span("stage_a.extract").dur,
        "stage_a.triples": span("stage_a.extract").counts["triples"],
        "stage_a.shuffle_write_mb": sa["shuffle_write_mb"],
        "stage_a.exchanges": sa["exchanges"],
        "stage_b.chain_s": span("stage_b.chain").dur,
        "stage_b.jobs": sb["jobs"],
        "stage_b.shuffle_write_mb": sb["shuffle_write_mb"],
        "stage_b.spill_mb": sb["spill_mb"],
        "stage_b.exchanges": sb["exchanges"],
        "sinks.write_triples_s": span("sinks.write_triples").dur,
        "sinks.write_triples_mb": span("sinks.write_triples").counts["mb"],
        "sinks.write_triples_files": span("sinks.write_triples").counts["files"],
        "sinks.write_ttl_s": span("sinks.write_ttl").dur,
        "sinks.write_ttl_files": span("sinks.write_ttl").counts["files"],
        "biopax_xml.parse_s": span("biopax_xml.parse").dur,
        "biopax_xml.parse_ms_per_file": span("biopax_xml.parse").dur * 1e3 / inp.owl_files,
        "biopax_xml.files": inp.owl_files,
        "biopax_xml.quarantined": span("biopax_xml.parse").counts["quarantined"],
        "shex.validate_s": span("shex.validate").dur,
        "shex.violations": span("shex.validate").counts["violations"],
        "shex.exchanges": win("shex.validate")["exchanges"],
        # both against the mean untraced wall of the named workload
        "trace.overhead_frac": statistics.mean(j.dur for j in jobs) / untraced - 1,
        "trace.coverage": statistics.mean(
            sum(tr.self_time(s) for s in tr.children(j)) for j in jobs) / untraced,
    })
    totals = win(f"{args.workload}.untraced")
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
              "gc_s", "shuffle_write_mb", "spill_mb"):
        layers[f"spark.{k}"] = totals[k]
    record.update(untraced_walls_s=plain,
                  traced_walls_s=[s.dur for s in tr.spans if s.name.endswith(".job")],
                  setup_s=span("setup").dur,
                  steal_pct=[j.steal_pct for j in checks])
    checks.append(Job(None, mega_errors, 0.0))
    return checks, layers


# ----------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size; smoke is a seconds-long check of every "
                         "workload, job and correctness check")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pathways2go_spark")):
        print(f"kgbench: no pathways2go_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # executors (Python workers) import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for d in ("tmp", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep every JVM's and Python's scratch files inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    from host import nproc, versions
    from inputs import ensure_inputs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    inp = ensure_inputs(WORK, args.seed, args.size)
    record = {"workload": args.workload, "seed": args.seed, "size": args.size,
              "trace": args.trace, "nproc": nproc(), "versions": versions(),
              "gen_s": inp.gen_s, "loadavg_start": os.getloadavg()}
    run = run_traced if args.trace else run_e2e
    jobs, values = run(args, inp, record)
    record["loadavg_end"] = os.getloadavg()

    failed = sum(1 for j in jobs if j.errors)
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']:40s} {values[m['name']]:.6g} {m['unit']}")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"),
              "w") as f:
        json.dump({"host": record, "metrics": metrics}, f, indent=1)
    print(json.dumps({"host": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(jobs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
