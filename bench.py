"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "e2e_seconds", "value": N, "unit": "sec",
   "queries": {...per-query floor sec...}, "query_rounds": {...all rounds...},
   "rounds": R, "steal_pct": S, "sf": ..., "kg_docs": ...,
   "kg_triples": ..., "kg_triples_per_sec": ...}

Noise robustness: this sandbox host shows hypervisor CPU steal, and
adjacent identical runs swing up to +/-55%. Every query therefore runs
SPARK_GRAFT_BENCH_ROUNDS times (default 3) on a freshly-built DataFrame
(a reused lineage would silently reuse shuffle files and measure nothing),
and the reported per-query number is the floor across rounds — the
steady-state proxy least contaminated by steal bursts. All rounds are
reported alongside so BENCH_rN files are comparable across rounds, and
/proc/stat steal is sampled over the whole run.

The KG pipeline benchmark runs over a deterministically generated
interleaved-document corpus (replicas scaled by SPARK_GRAFT_KG_REPLICAS,
default 20000 -> 300,000 pathway documents); corpus generation time is NOT
counted. Set SPARK_GRAFT_BENCH_MASTER to override the master (e.g. to pin
the core count for an N-vs-4N-cores scaling run).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def read_cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def steal_gate(max_steal: float, max_wait_s: float) -> tuple[float, float]:
    """Wait (bounded) for a hypervisor-steal-quiet window before the
    measured run starts — WINDOW selection only, never result selection:
    the run proceeds after max_wait_s regardless, every round is
    reported, and the gate reading lands in the output JSON. Same
    methodology as the historical scaling runs (BENCH/BASELINE.md): this
    shared host intermittently steals >5% of CPU, noise no engine change
    addresses. Disable with SPARK_GRAFT_BENCH_GATE_STEAL=100."""
    waited = 0.0
    while True:
        s0, t0 = read_cpu_stat()
        time.sleep(2.0)
        s1, t1 = read_cpu_stat()
        pct = 100.0 * (s1 - s0) / max(1, t1 - t0)
        if pct <= max_steal or waited >= max_wait_s:
            return round(pct, 2), round(waited, 1)
        waited += 2.0 + 8.0
        time.sleep(8.0)


def main() -> None:
    import __spark_entry__ as E
    from pathways2go_spark.datagen import ensure_fixture
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.pipeline import prepare_local_dims, run_pipeline
    from pathways2go_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    master = os.environ.get("SPARK_GRAFT_BENCH_MASTER", f"local[{cpus}]")
    replicas = int(os.environ.get("SPARK_GRAFT_KG_REPLICAS", 20000))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", 3))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = 0.1

    kg_dir = os.path.join(ROOT, f".kg_bench_r{replicas}")
    paths = ensure_fixture(kg_dir, replicas=replicas)

    gate_max = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_STEAL", "2.0"))
    gate_wait = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_WAIT", "600"))
    gate_steal, gate_waited = steal_gate(gate_max, gate_wait)

    # split-friendly scans: the KG corpus is byte-small but compute-heavy,
    # so default 128 MB splits would serialize the document scan into one
    # task
    spark = get_spark(
        master=master,
        app_name="p2g_bench",
        extra={
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(128 * 1024),
            # ~8 scan-task waves per core
            "spark.sql.files.minPartitionNum": str(8 * cpus),
        },
    )
    floors: dict[str, float] = {}
    all_rounds: dict[str, list[float]] = {}
    st0, tot0 = read_cpu_stat()

    def timed(name: str, build_and_run) -> object:
        """Run `build_and_run` `rounds` times; keep the floor. The
        callable must BUILD the DataFrame fresh each invocation — timing
        a reused DataFrame object would let Spark reuse its shuffle map
        outputs and measure only the final stage."""
        out = None
        samples = []
        for _ in range(rounds):
            t0 = time.perf_counter()
            out = build_and_run()
            samples.append(round(time.perf_counter() - t0, 3))
        floors[name] = min(samples)
        all_rounds[name] = samples
        return out

    # -- KG construction pipeline (the flagship job) -------------------
    docs = read_documents(spark, paths["documents"])
    dims = load_dims(spark, kg_dir)
    # one-time ontology-dictionary build (bounded by ontology size in
    # production) — excluded from steady-state throughput, like corpus gen
    prepared = prepare_local_dims(dims)
    n_docs = docs.count()
    n_triples = timed(
        "kg_pipeline",
        lambda: run_pipeline(spark, docs, dims, prepared=prepared).triples.count(),
    )

    # -- corpus / relational headline queries --------------------------
    heads = [
        "dedup_exact", "dedup_minhash_lsh", "dedup_embedding",
        "text_quality", "sim_cosine_topk", "sim_ann_lsh_topk",
        "events_hourly", "tpch_pricing", "top_orders_per_cust",
        "nation_order_stats",
        # round-4 surface (VERDICT r3 #8): the report family, cross-model
        # analytics, and the composition ops added in r3, plus the ANN
        # recall harness — so regressions there show round-over-round
        "kg_model_report", "kg_reaction_venn", "data_shards",
        "sim_ann_recall",
        # new round-4 training-data ops with corpus-wide shuffles — the
        # ones whose plans could regress: paragraph dedup (chunk-hash
        # window), decontamination (gram probe), greedy packing
        "dedup_paragraph", "data_decontaminate", "data_pack",
        # the end-to-end corpus-prep funnel (quality -> repetition ->
        # dedup -> decontamination in one plan) — the composition path
        "data_funnel",
        # bigram-LM perplexity scoring: two count shuffles + two scoring
        # joins — the heaviest text op, watch its join plans
        "text_lm",
        # bounded-depth BFS closure over the KG fixture: the iterative-
        # join path, watch per-round checkpoint cost
        "kg_causal_paths",
        # DSIR importance weights: fixed-bucket-space fit + broadcast
        # scoring join — the no-corpus-sized-shuffle contrast case
        "data_dsir",
        # late-round-4 relational additions: Bloom-pruned semi-join
        # (literal-bitmap scan filter + verify join), SCD2 changelog
        # collapse (one shuffle, two windows), exact quantiles via
        # value-domain compression
        "join_bloom_prune", "events_scd2", "doc_length_pcts",
        "events_agg_incremental",
        # per-domain frequency cap (salted two-phase top-cap), inverted
        # index with max_df hub cap, TF-IDF top terms, Z-order
        # clustering-key census
        "data_domain_cap", "text_inverted_index", "text_tfidf",
        "events_zorder",
        # per-model causal PageRank: 5 rounded power iterations
        "kg_pagerank",
        # count-min heavy hitters over the token stream
        "sketch_cms",
        # round-4 late additions: HLL registers (one bounded groupBy
        # chain), cross-doc boilerplate census (two chunk-hash
        # shuffles), epoch shuffle (bucket window + broadcast offsets),
        # one-pass column profile, causal-DAG layering (iterative peel)
        "sketch_hll", "text_boilerplate", "data_epoch", "data_profile",
        "kg_dag_levels",
        # final round-4 additions: corpus-proportional chunk explode,
        # Q10 fact-fact join + deterministic top-k, closure-Jaccard
        # semsim (ontology-bounded), cohort retention (distinct-first)
        "text_chunks", "tpch_returned_revenue", "kg_term_semsim",
        "events_retention",
        # retrieval stack + incremental dedup (store build included in
        # the timed body — the write is the operator), TPC-H semi-joins
        "dedup_incremental", "sim_knn_join", "text_bm25",
        "search_hybrid", "tpch_large_orders",
        # directional containment (shingle join) + hourly densify
        "dedup_containment", "events_resample",
        # TPC-H suite close-out: Q9 (widest join tree), Q21 (per-order
        # double-distinct aggregate); rolling z-score anomaly window;
        # embedding centroid-outlier gate (posexplode + bounded groupBy)
        "tpch_profit", "tpch_waiting_orders", "events_anomaly",
        "sim_centroid_outliers",
        # corpus-wide first-occurrence novelty (heaviest text op of the
        # late batch), the 3-config banding sweep, exact winsorization
        "text_novelty", "dedup_band_sweep", "events_winsorize",
        # closing-session addition: neighborhood-Jaccard link
        # prediction (hub-capped shared-neighbor pivot join)
        "kg_neighbor_jaccard",
        # round-5 additions: the BioPAX RDF/XML round-trip front-end
        # (serialize + distributed parse + FULL pipeline re-run on the
        # fixture corpus) and the ShEx shape-validation suite
        "kg_biopax_ingest", "kg_shex",
    ]
    qs = E.queries()
    for name in heads:
        timed(name, lambda n=name: qs[n](spark, sf_dir).count())

    st1, tot1 = read_cpu_stat()
    total = round(sum(floors.values()), 3)
    print(json.dumps({
        "metric": "e2e_seconds",
        "value": total,
        "unit": "sec",
        "queries": floors,
        "query_rounds": all_rounds,
        "rounds": rounds,
        "steal_pct": round(100.0 * (st1 - st0) / max(1, tot1 - tot0), 2),
        "gate_max_steal": gate_max,
        "gate_start_steal": gate_steal,
        "gate_waited_s": gate_waited,
        "sf": sf,
        "master": master,
        "kg_docs": n_docs,
        "kg_triples": n_triples,
        "kg_triples_per_sec": round(n_triples / floors["kg_pipeline"], 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
