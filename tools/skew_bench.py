"""Hub-pathway skew stress bench.

The north rule calls out Reactome mega-complex / hub-pathway skew as the
thing the pipeline must defuse explicitly. The defenses in this repo:

  1. size routing — documents above `span_threshold` skip the fused
     per-doc path (which would pin one Python worker for minutes) and run
     through the distributed stage-A/B operators (pipeline.run_pipeline
     routes by span count);
  2. join-key extension — every stage-B self-join carries model_id (+
     reaction / type) in the key, so a hub TYPE never becomes a single
     shuffle key (the reference's same-pathway guard, SURVEY.md §4);
  3. AQE skew-join splitting for whatever residual imbalance remains.

This tool builds a corpus of normal documents PLUS one mega-document
(`--rxns` reactions in one pathway, every reaction enabled by the same
hub enabler type and threading the same shared small molecule — the B4/B5
hub shapes), runs the auto-routed pipeline end to end, and prints one
JSON line with the routing decision and wall times.

    python tools/skew_bench.py [--rxns 150000] [--normal 20000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_mega_doc(n_rxn: int) -> dict:
    """One pathway, n_rxn chained reactions: Ri consumes Mi + shared ATP-like
    molecule, outputs M(i+1); every Ri is CATALYSIS-enabled by the same hub
    protein (one enabler TYPE across the whole model — the B4 hub shape);
    steps chain Ri -> Ri+1 (same-pathway causal edges for B5)."""
    spans = []
    off = 0

    def push(kind: str, **attrs) -> None:
        nonlocal off
        text = ";".join(f"{k}={v}" for k, v in attrs.items() if v is not None)
        spans.append({"kind": kind, "text": text, "media_ref": "", "offset": off})
        off += len(text) + 1

    rxns = ",".join(f"MEGA-R{i}" for i in range(n_rxn))
    push("pathway", id="MEGA-P", displayName="mega pathway", isDisease=0,
         components=rxns)
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


def build_hot_type_doc(n_rxn: int) -> dict:
    """Hot-TYPE (not merely hot-model) corpus for the B4 case-1 type
    equijoin: n_rxn feeder reactions, each outputting an instance of the
    SAME protein class, all causally upstream (via steps) of ONE
    collector reaction enabled by that same class. Stage-B then puts
    n_rxn rows on a single (model_id, collector, type) join key — the
    same-pathway key extension cannot split it (one model, one
    reaction), so this is exactly the shape the explicit B4 salt
    (stage_b.b4_b5_delta(salt=...)) must defuse. Proteins, not small
    molecules, so A18's shared-instance keying keeps one node per
    (entity, reaction) and the heat lands on the TYPE key alone."""
    spans = []
    off = 0

    def push(kind: str, **attrs) -> None:
        nonlocal off
        text = ";".join(f"{k}={v}" for k, v in attrs.items() if v is not None)
        spans.append({"kind": kind, "text": text, "media_ref": "", "offset": off})
        off += len(text) + 1

    rxns = ",".join(f"HT-R{i}" for i in range(n_rxn)) + ",HT-RC"
    push("pathway", id="HT-P", displayName="hot-type pathway", isDisease=0,
         components=rxns)
    # ONE protein class across every feeder output and the collector's
    # enabler — the hot TYPE
    push("protein", id="HT-HOT", displayName="hot product",
         uniprot="U-HOT-1", location="cytosol")
    push("protein", id="HT-ENZ", displayName="collector enzyme",
         uniprot="U-HOT-1", location="cytosol")
    push("small_molecule", id="HT-CIN", displayName="collector input",
         chebi="CHEBI_78000001", location="cytosol")
    push("small_molecule", id="HT-COUT", displayName="collector output",
         chebi="CHEBI_78000002", location="cytosol")
    for i in range(n_rxn):
        push("small_molecule", id=f"HT-M{i}", displayName=f"hm{i}",
             chebi=f"CHEBI_78{i:06d}", location="cytosol")
    for i in range(n_rxn):
        push("reaction", id=f"HT-R{i}", displayName=f"hr{i}",
             direction="LEFT-TO-RIGHT", left=f"HT-M{i}", right="HT-HOT")
        push("step", id=f"HT-S{i}", reactionId=f"HT-R{i}", nextStepIds="HT-SC")
    push("reaction", id="HT-RC", displayName="collector",
         direction="LEFT-TO-RIGHT", left="HT-CIN", right="HT-COUT")
    push("control", id="HT-CTL", type="CATALYSIS", controllerId="HT-ENZ",
         controlledId="HT-RC")
    push("step", id="HT-SC", reactionId="HT-RC", nextStepIds="")
    return {"doc_id": "HOT-TYPE-DOC", "spans": spans}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rxns", type=int, default=150_000)
    ap.add_argument("--normal", type=int, default=20_000,
                    help="normal-corpus replicas running beside the mega doc")
    ap.add_argument("--span-threshold", type=int, default=500_000)
    ap.add_argument("--rounds", type=int, default=2,
                    help="rounds per measurement; the floor is reported "
                         "(round 0 carries JVM JIT warm-up, and this host "
                         "shows +/-55% steal swings)")
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pathways2go_spark.datagen import DOCUMENTS_SCHEMA, ensure_fixture
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.pipeline import prepare_local_dims, run_pipeline
    from pathways2go_spark.session import get_spark

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        f".kg_bench_r{args.normal}")
    paths = ensure_fixture(base, replicas=args.normal)
    mega_path = os.path.join(base, "mega_doc.parquet")
    if not os.path.exists(mega_path):
        t0 = time.perf_counter()
        doc = build_mega_doc(args.rxns)
        pq.write_table(pa.Table.from_pylist([doc], schema=DOCUMENTS_SCHEMA),
                       mega_path)
        print(f"mega-doc gen {time.perf_counter() - t0:.1f}s "
              f"({len(doc['spans'])} spans)", file=sys.stderr)
    hot_path = os.path.join(base, "hot_type_doc.parquet")
    if not os.path.exists(hot_path):
        t0 = time.perf_counter()
        doc = build_hot_type_doc(args.rxns)
        pq.write_table(pa.Table.from_pylist([doc], schema=DOCUMENTS_SCHEMA),
                       hot_path)
        print(f"hot-type-doc gen {time.perf_counter() - t0:.1f}s "
              f"({len(doc['spans'])} spans)", file=sys.stderr)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(extra={
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(128 * 1024),
        # ~8 scan-task waves per core (see tools/scaling_driver.py)
        "spark.sql.files.minPartitionNum": str(8 * cpus),
    })
    dims = load_dims(spark, base)
    prepared = prepare_local_dims(dims)

    normal = read_documents(spark, os.path.join(base, "documents.parquet"))
    mega = read_documents(spark, mega_path)
    hot = read_documents(spark, hot_path)

    from pyspark.sql import functions as F

    n_mega_spans = mega.select(F.size("spans")).collect()[0][0]
    routed_distributed = n_mega_spans > args.span_threshold

    # steal-gate each measured round exactly like bench.py /
    # tools/scaling_bench.py: WINDOW selection only, never result
    # selection — every round is reported, with its own steal reading
    from bench import read_cpu_stat, steal_gate

    gate_max = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_STEAL", "2.0"))
    gate_wait = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_WAIT", "600"))

    rounds_normal, rounds_both, rounds_hot = [], [], []
    steal_normal, steal_both, steal_hot = [], [], []
    base_triples = all_triples = hot_triples = 0
    for _ in range(max(1, args.rounds)):
        steal_gate(gate_max, gate_wait)
        s0, j0 = read_cpu_stat()
        t0 = time.perf_counter()
        base_triples = run_pipeline(
            spark, normal, dims, prepared=prepared
        ).triples.count()
        rounds_normal.append(round(time.perf_counter() - t0, 2))
        s1, j1 = read_cpu_stat()
        steal_normal.append(round(100.0 * (s1 - s0) / max(1, j1 - j0), 2))

        steal_gate(gate_max, gate_wait)
        s0, j0 = read_cpu_stat()
        t0 = time.perf_counter()
        both = normal.unionByName(mega)
        all_triples = run_pipeline(
            spark, both, dims, prepared=prepared,
            span_threshold=args.span_threshold,
        ).triples.count()
        rounds_both.append(round(time.perf_counter() - t0, 2))
        s1, j1 = read_cpu_stat()
        steal_both.append(round(100.0 * (s1 - s0) / max(1, j1 - j0), 2))

        steal_gate(gate_max, gate_wait)
        s0, j0 = read_cpu_stat()
        t0 = time.perf_counter()
        hot_triples = run_pipeline(
            spark, normal.unionByName(hot), dims, prepared=prepared,
            span_threshold=args.span_threshold,
        ).triples.count()
        rounds_hot.append(round(time.perf_counter() - t0, 2))
        s1, j1 = read_cpu_stat()
        steal_hot.append(round(100.0 * (s1 - s0) / max(1, j1 - j0), 2))
    t_normal, t_both, t_hot = min(rounds_normal), min(rounds_both), min(rounds_hot)

    # ---- LLM-pipeline skew stresses --------------------------------------
    # (a) all-positive (non-centered) embeddings: raw-dim sign buckets
    # would collapse every vector into bucket 0xFF and the within-bucket
    # join would go all-pairs; hyperplane-projected buckets must spread.
    from pathways2go_spark import dedup as D
    from pathways2go_spark.similarity import sign_bucket

    n_vec, dim = 20_000, 64
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.abs(
            (F.pmod(F.hash(F.col("vec_id") * dim + j), F.lit(1000)) / 500.0) - 1.0
        ).cast("float"),
    )
    allpos = (
        spark.range(n_vec).select(F.col("id").alias("vec_id"))
        .withColumn("embedding", comp)
    )
    t0 = time.perf_counter()
    bkt = (
        allpos.withColumn("bkt", sign_bucket(F.col("embedding"), 8, dim))
        .groupBy("bkt").count().collect()
    )
    n_cand = sum(r["count"] * (r["count"] - 1) // 2 for r in bkt)
    t_embed = time.perf_counter() - t0
    all_pairs = n_vec * (n_vec - 1) // 2

    # (b) hub shingles: every doc shares one stop-phrase; the df<=256 cap
    # must keep the blocking join off the 12.5M-pair hub bucket.
    n_doc = 5_000
    texts = spark.range(n_doc).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the of and in to unique "),
                 F.col("id").cast("string"), F.lit(" tail "),
                 (F.col("id") * 7).cast("string")).alias("text"),
    )
    t0 = time.perf_counter()
    n_jac = D.ngram_jaccard_pairs(texts, threshold=0.5, max_df=256).count()
    t_jac = time.perf_counter() - t0

    print(json.dumps({
        "metric": "skew_overhead_ratio",
        "value": round(t_both / t_normal, 3),
        "unit": "ratio",
        "mega_spans": n_mega_spans,
        "mega_routed_distributed": routed_distributed,
        "normal_docs": args.normal * 15,
        "normal_triples": base_triples,
        "total_triples": all_triples,
        "mega_triples": all_triples - base_triples,
        "sec_normal_only": round(t_normal, 2),
        "sec_with_mega": round(t_both, 2),
        "sec_with_hot_type": round(t_hot, 2),
        "hot_type_triples": hot_triples - base_triples,
        "rounds_normal_only": rounds_normal,
        "rounds_with_mega": rounds_both,
        "rounds_with_hot_type": rounds_hot,
        "steal_normal_only": steal_normal,
        "steal_with_mega": steal_both,
        "steal_with_hot_type": steal_hot,
        "gate_max_steal": gate_max,
        "embed_allpos_buckets": len(bkt),
        "embed_allpos_candidate_frac": round(n_cand / all_pairs, 4),
        "sec_embed_stress": round(t_embed, 2),
        "hub_shingle_pairs": n_jac,
        "sec_hub_shingle": round(t_jac, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
