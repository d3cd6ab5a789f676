"""Per-phase profiler for the mega-doc distributed path.

Times ingest / stage A / each stage-B delta superstep separately on the
skew-bench mega document (reuses the .kg_bench_r{N} corpus + mega doc),
so optimization work targets measured cost, not guesses.

    python tools/profile_mega.py [--rxns 150000] [--normal 20000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rxns", type=int, default=150_000)
    ap.add_argument("--normal", type=int, default=20_000)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pathways2go_spark import stage_b as B
    from pathways2go_spark.datagen import DOCUMENTS_SCHEMA, ensure_fixture
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.ingest import element_links as ingest_links, ingest
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.session import get_spark
    from pathways2go_spark.stage_a import extract
    from tools.skew_bench import build_mega_doc

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f".kg_bench_r{args.normal}",
    )
    ensure_fixture(base, replicas=args.normal)
    mega_path = os.path.join(base, "mega_doc.parquet")
    if not os.path.exists(mega_path):
        doc = build_mega_doc(args.rxns)
        pq.write_table(
            pa.Table.from_pylist([doc], schema=DOCUMENTS_SCHEMA), mega_path
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(extra={
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(128 * 1024),
        # ~8 scan-task waves per core (see tools/scaling_driver.py)
        "spark.sql.files.minPartitionNum": str(8 * cpus),
    })
    dims = load_dims(spark, base)
    mega = read_documents(spark, mega_path)

    phases: dict[str, float] = {}

    def clock(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        phases[name] = round(time.perf_counter() - t0, 2)
        print(f"  {name}: {phases[name]}s", file=sys.stderr)
        return out

    par = spark.sparkContext.defaultParallelism

    def do_ingest():
        elements, _ = ingest(mega, repartition=par)
        elements = elements.localCheckpoint(eager=True)
        links = ingest_links(elements).localCheckpoint(eager=True)
        return elements, links

    elements, links = clock("ingest", do_ingest)

    def do_stage_a():
        sa = extract(elements, links, dims)
        t = sa.triples.localCheckpoint(eager=True)
        return t, sa.drug_reactions

    t, drugs = clock("stage_a", do_stage_a)
    print(f"  stage_a triples: {t.count()}", file=sys.stderr)

    ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    # mirror the production chain (pipeline._stage_b_distributed):
    # VTriples base/adds split, same supersteps, merge_virtual at the end
    v1 = clock("b10", lambda: B.apply_delta_v(
        B.VTriples(t), **B.b10_delta(t, drugs, ck=ck)))

    def b123():
        t1 = v1.view()
        d1, d2, d3 = B.par(
            lambda: B.b1_delta(t1, ck=ck),
            lambda: B.b2_delta(t1, ck=ck),
            lambda: B.b3_delta(t1, ck=ck),
        )
        return B.apply_delta_v(
            v1, adds=d1["adds"] + d2["adds"] + d3["adds"],
            deletes=d1["deletes"] + d3["deletes"])

    v2 = clock("b1_b2_b3", b123)
    # mid-chain rebase on big inputs, as the pipeline does
    v2 = clock("rebase", lambda: B.VTriples(ck(v2.base), v2.adds))
    v3 = clock("b4_b5", lambda: B.apply_delta_v(
        v2, **B.b4_b5_delta(v2.view(), dims, ck=ck)))

    def b6():
        d6, _audit = B.b6_delta(v3.view(), dims, ck=ck)
        return B.apply_delta_v(v3, **d6)

    v4 = clock("b6", b6)

    def b78():
        t4 = v4.view()
        d7, d8 = B.b7_delta(t4), B.b8_delta(t4)
        return B.apply_delta_v(
            v4, node_deletes=d7["node_deletes"] + d8["node_deletes"],
        ).filter_each(B.b8_pred_filter)

    v5 = clock("b7_b8", b78)
    t6 = clock("merge", lambda: ck(B.merge_virtual(v5, ck=ck)))
    t7 = clock("b9", lambda: B.b9_clean_unconnected(t6))
    t8 = clock("b11_gate_count", lambda: B.b11_model_gate(t7, dims).count())

    phases["total"] = round(sum(phases.values()), 2)
    print(json.dumps({"metric": "mega_profile", "phases": phases,
                      "final_triples": t8}))
    spark.stop()


if __name__ == "__main__":
    main()
