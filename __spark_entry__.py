"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship job: the full KG-construction pipeline
(stage-A extraction + ordered stage-B rules, SURVEY.md §2.3-2.4) over the
deterministic interleaved text+media document corpus (the BASELINE.json
`input_hint` shape: doc_id string, spans array<struct<kind,text,media_ref,
offset>>), returning the final GO-CAM triples DataFrame.

`queries()` / `oracle_sql()` expose every implemented operator family:
  kg_*      knowledge-graph construction + the G1-G8 analytics layer,
            checked against the hand-derived golden triple set
            (pathways2go_spark/datagen.py — the reference's golden-fixture
            strategy, BioPaxtoGOTest.java:71-196)
  dedup_*   exact / n-gram-Jaccard / MinHash-LSH / SimHash / embedding
            near-dup (documents + embeddings tables)
  text_*    quality scoring, language-ID, token stats, fingerprinting
  sim_*     cosine top-k (exact) + sign-LSH multiprobe ANN (embeddings)
  media_*   multimodal column plumbing (media table + Arrow feature UDF)
  events_ / tpch_ / nation_ / top_   relational aggregation/window/join
            operators on the star-schema tables, incl. gap-based
            sessionization + JSON props extraction (events_sessions)
            and a merge-scan backward as-of join (events_asof,
            relational.py; oracle = DuckDB native ASOF LEFT JOIN)

Oracle SQL is engineered for *bit-exact* value agreement with the Spark
plan: only integer-derived doubles (exact in IEEE754), sequential-fold
dot products on both sides, md5-bit-slice token hashes for SimHash
(bit-reproducible cross-engine, unlike murmur3), and string/count
outputs elsewhere. MinHash band hashing (murmur3) remains the one
construct DuckDB cannot reproduce, so its oracle pins the known
duplicate structure of the doubled corpus instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pathways2go_spark import analytics as G
from pathways2go_spark import dedup as D
from pathways2go_spark import dataops as DO
from pathways2go_spark import multimodal as MM
from pathways2go_spark import reports as RP
from pathways2go_spark import similarity as SIM
from pathways2go_spark import sketches as SK
from pathways2go_spark import textops as TX
from pathways2go_spark import vocab as V
from pathways2go_spark.layout import layout as LAYOUT
from pathways2go_spark.datagen import ensure_fixture
from pathways2go_spark.dims import load_dims
from pathways2go_spark.ingest import (
    explode_spans,
    read_documents,
    span_invariant_violations,
)
from pathways2go_spark.pipeline import run_pipeline

# Deterministic synthetic KG corpus (BASELINE.json: "synthesise it
# deterministically at small scale"). Written once, reused across calls.
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
KG_FIXTURE_DIR = os.path.join(REPO_DIR, ".kg_fixture")
DOC_OFFSET = 10_000_000  # doc_id shift for the self-dup corpus trick

_kg_cache: dict[int, tuple[DataFrame, DataFrame]] = {}


def _fx() -> dict[str, str]:
    return ensure_fixture(KG_FIXTURE_DIR, replicas=1)


def _kg(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(final distinct triples, audit) for the fixture corpus — pipeline
    runs once per SparkSession (localCheckpointed), then memoized."""
    key = id(spark)
    if key not in _kg_cache:
        paths = _fx()
        docs = read_documents(spark, paths["documents"])
        dims = load_dims(spark, KG_FIXTURE_DIR)
        res = run_pipeline(spark, docs, dims)
        triples = (
            res.triples.select("model_id", "subj", "pred", "obj")
            .distinct()
            .localCheckpoint(eager=True)
        )
        audit = res.audit.select(
            "rule", "model_id", "reaction", "detail"
        ).localCheckpoint(eager=True)
        _kg_cache[key] = (triples, audit)
    return _kg_cache[key]


def _docs(spark: SparkSession) -> DataFrame:
    return read_documents(spark, _fx()["documents"])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline over the interleaved-document corpus."""
    return _kg(spark)[0]


# ----------------------------------------------------------------------
# helpers shared by corpus queries
# ----------------------------------------------------------------------

def _doubled_docs(spark: SparkSession, sf_dir: str, max_id: int | None = None) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if max_id is not None:
        d = d.filter(F.col("doc_id") < max_id)
    return d.unionByName(
        d.select((F.col("doc_id") + DOC_OFFSET).alias("doc_id"), "text")
    )


def _doubled_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    return e.unionByName(
        e.select((F.col("vec_id") + DOC_OFFSET).alias("vec_id"), "embedding")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


def _rounded_topk(scored: DataFrame, k: int = 10) -> DataFrame:
    return (
        scored.withColumn("cosine", F.round("cosine", 6))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# ----------------------------------------------------------------------
# queries
# ----------------------------------------------------------------------

def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg(spark)[0]


def q_kg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg(spark)[1]


def q_kg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style row-level MERGE over the triple snapshot
    (sinks.merge_snapshot): key the store by (model_id, subj, pred)
    (min-obj representative), derive a deterministic change feed from
    the key hash — md5 first hex digit 0-1 deletes the key, 2-3 upserts
    a re-versioned obj — and materialize the post-merge snapshot. One
    anti-join shuffle on the key; copy-on-write semantics."""
    from pathways2go_spark.sinks import merge_snapshot

    base = (
        _kg(spark)[0]
        .groupBy("model_id", "subj", "pred")
        .agg(F.min("obj").alias("obj"))
    )
    h = F.substring(F.md5(F.concat_ws("|", "model_id", "subj", "pred")), 1, 1)
    tagged = base.withColumn("h", h)
    changes = (
        tagged.filter(F.col("h").isin("0", "1", "2", "3"))
        .withColumn("op", F.when(F.col("h").isin("0", "1"), "D")
                    .otherwise(F.lit("U")))
        .withColumn("obj", F.when(F.col("op") == "U",
                                  F.concat(F.col("obj"), F.lit("#v2")))
                    .otherwise(F.col("obj")))
        .drop("h")
    )
    return merge_snapshot(base, changes, ["model_id", "subj", "pred"])


def q_kg_entity_ontology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REACTO entity-class ontology (SURVEY.md §2.6 E1-E12) over the KG
    fixture corpus; oracle re-derives the axioms independently in DuckDB."""
    from pathways2go_spark.entity_ontology import build_reacto
    from pathways2go_spark.ingest import ingest

    paths = _fx()
    docs = read_documents(spark, paths["documents"])
    dims = load_dims(spark, KG_FIXTURE_DIR)
    elements, links = ingest(docs)
    return build_reacto(elements, links, dims).select(
        "class_id", "axiom", "value", "qual"
    )


def q_kg_gpad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 GPAD annotation export over the final triple set."""
    dims = load_dims(spark, KG_FIXTURE_DIR)
    return G.gpad_export(_kg(spark)[0], dims.onto_ancestors)


def q_kg_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 TTL export: one N-Triples/Turtle line per triple (the
    reference's one-.ttl-per-pathway artifact, GoCAM.java:1873-1886)."""
    from pathways2go_spark.sinks import ttl_lines

    return ttl_lines(_kg(spark)[0])


def q_kg_gpad_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4b GPAD comparison vs the deterministic 'existing annotations'
    fixture (ReactomeGPAD.compareAnnotations)."""
    from pathways2go_spark.datagen import ensure_reference_gpad

    dims = load_dims(spark, KG_FIXTURE_DIR)
    ref = spark.read.parquet(ensure_reference_gpad(KG_FIXTURE_DIR))
    return G.gpad_compare(G.gpad_export(_kg(spark)[0], dims.onto_ancestors), ref)


def q_kg_biopax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse converter: final GO-CAM triples -> BioPAX statement table
    (GOtoBioPAX.makeBioPAXFromGoCAM :113-293). Oracle re-derives the
    same statements in SQL from the independently-generated expected
    triples."""
    from pathways2go_spark.biopax_export import kg_to_biopax

    dims = load_dims(spark, KG_FIXTURE_DIR)
    return kg_to_biopax(_kg(spark)[0], dims.onto_ancestors)


def q_kg_biopax_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BioPAX RDF/XML front-end under the full oracle gate: the fixture
    corpus is serialized to real BioPAX L3 RDF/XML (biopax_xml.
    write_rdfxml — bp:Pathway/bp:BiochemicalReaction/bp:Catalysis/...,
    the vocabulary paxtools reads at BioPaxtoGO.java:226-228), parsed
    back through the distributed Arrow-batched parser (parse_rdfxml),
    and run through the FULL pipeline. The result must hash-match the
    independently hand-derived golden triples — proving RDF/XML-ingested
    triples == span-ingested triples on the same topologies."""
    from pathways2go_spark.biopax_xml import parse_rdfxml, write_rdfxml

    paths = _fx()
    docs = parse_rdfxml(write_rdfxml(read_documents(spark, paths["documents"])))
    dims = load_dims(spark, KG_FIXTURE_DIR)
    res = run_pipeline(spark, docs, dims)
    return res.triples.select("model_id", "subj", "pred", "obj").distinct()


def q_kg_obo_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBO ontology front door under the full oracle gate: the fixture
    ontology's transitive REDUCTION is serialized as a real OBO file
    (is_a stanzas), re-read through sources.read_obo, and re-closed by
    the distributed closure job (sources.obo_ancestors) — the result
    must hash-match the onto_ancestors parquet dim the pipeline
    broadcasts. Two front doors (parquet / go-basic.obo), one truth.
    The reduction is computed driver-side from the ontology dim —
    ontology-bounded, the same class as every dims builder collect."""
    import tempfile

    from pathways2go_spark.sources import obo_ancestors

    paths = _fx()
    anc = {
        (r["class_iri"], r["ancestor_iri"])
        for r in spark.read.parquet(paths["onto_ancestors"]).collect()
    }
    strict = {(c, a) for c, a in anc if c != a}
    children = {}
    for c, a in strict:
        children.setdefault(c, set()).add(a)
    direct = {
        (c, a) for c, a in strict
        if not any(
            (b, a) in strict for b in children.get(c, ()) if b not in (c, a)
        )
    }
    by_cls = {}
    for c, a in direct:
        by_cls.setdefault(c, set()).add(a)
    lines = ["format-version: 1.2", ""]
    for cls in sorted({c for c, _ in anc}):
        lines += ["[Term]", f"id: {cls.replace('_', ':', 1)}", f"name: {cls}"]
        lines += [
            f"is_a: {a.replace('_', ':', 1)}" for a in sorted(by_cls.get(cls, ()))
        ]
        lines.append("")
    obo_path = os.path.join(tempfile.mkdtemp(prefix="p2g_obo_"), "fixture.obo")
    with open(obo_path, "w") as f:
        f.write("\n".join(lines))
    return obo_ancestors(spark, obo_path)


def q_kg_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 structural validation: all checks must return zero violations
    on the final corpus (the reference's consistency gate)."""
    from pathways2go_spark.validate import validate

    dims = load_dims(spark, KG_FIXTURE_DIR)
    t = _kg(spark)[0].withColumn("evidence", F.lit(V.ECO_IMPORTED))
    return validate(t, dims.onto_ancestors)


def q_kg_shex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShEx shape validation (shex.shex_summary): the go-cam-shapes
    invariants the reference's release gate checks via Minerva
    (`Makefile validate:` -> minerva-cli --shex go-cam-shapes-edited;
    scripts/readable_shex_report.py), re-expressed as DataFrame
    checks. The golden corpus must conform: one row per check, all
    zero — the oracle pins both the check inventory and the counts.
    Seeded-violation behavior is unit-tested (tests/test_shex.py)."""
    from pathways2go_spark.shex import shex_summary

    dims = load_dims(spark, KG_FIXTURE_DIR)
    return shex_summary(_kg(spark)[0], dims.onto_ancestors)


def q_kg_unclassified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: per-model count of nodes with no GO/CHEBI-rooted type."""
    dims = load_dims(spark, KG_FIXTURE_DIR)
    return G.count_unclassified(_kg(spark)[0], dims.onto_ancestors)


def q_kg_span_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        explode_spans(_docs(spark))
        .groupBy("kind")
        .agg(F.count("*").alias("n_spans"))
    )


def q_kg_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_invariant_violations(_docs(spark)).select(
        "doc_id",
        F.col("ord").cast("long").alias("ord"),
        F.col("rank_by_offset").cast("long").alias("rank_by_offset"),
        "kind",
    )


def q_kg_relation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.relation_counts(_kg(spark)[0])


def q_kg_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noctua editor layout (layout.py — deterministic re-expression of
    SemanticNoctuaLayout.java:48-247): every laid-out individual with
    its editor x/y coordinate, over the fixture corpus triples."""
    return LAYOUT(_kg(spark)[0])


def q_kg_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.corpus_summary(_kg(spark)[0])


def q_kg_bp_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = load_dims(spark, KG_FIXTURE_DIR)
    return G.nodes_by_root(_kg(spark)[0], dims.onto_ancestors, V.BP_ROOT)


def q_kg_mf_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = load_dims(spark, KG_FIXTURE_DIR)
    return G.nodes_by_root(_kg(spark)[0], dims.onto_ancestors, V.MF_ROOT)


def q_kg_component_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.component_locations(_kg(spark)[0])


def q_kg_untyped_reactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.untyped_reactions(_kg(spark)[0])


def q_kg_xref_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = G.xref_map(_kg(spark)[0])
    return m.withColumn("xrefs", F.concat_ws(",", "xrefs"))


def q_kg_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop edge-motif census (reports.motif_census): (pred_a, pred_b)
    chain counts within models — the structural fingerprint of the
    rule engine's output and a cross-release regression signal."""
    return RP.motif_census(_kg(spark)[0])


def q_kg_canonical_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-model entity resolution — the connected-components ID
    canonicalization of KG construction: two nodes (in any models)
    sharing a skos:exactMatch external reference are the same
    real-world entity. Edges are BIPARTITE (node -> xref pseudo-node),
    so a popular xref is a star hub, never a quadratic pairwise
    clique; the general min-label propagation (dedup.duplicate_
    clusters) closes chains through multi-xref bridge nodes too.
    Output: (node, canonical, n_members) with canonical = min real
    node per component. The fixture corpus has no multi-xref bridge
    nodes (one exactMatch per node), so the oracle's one-window
    closed form over xref groups is the exact component structure —
    while the Spark side still runs the unrestricted algorithm."""
    from pathways2go_spark.dedup import duplicate_clusters

    t = _kg(spark)[0]
    ex = (
        t.filter(F.col("pred") == V.EXACT)
        .select(
            F.concat(
                F.lit("n:"), F.col("model_id"), F.lit("|"), F.col("subj")
            ).alias("a"),
            F.concat(F.lit("x:"), F.col("obj")).alias("b"),
        )
        .distinct()
    )
    cc = duplicate_clusters(ex)
    nodes = cc.filter(F.col("doc_id").startswith("n:"))
    canon = nodes.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canonical"),
        F.count("*").alias("n_members"),
    )
    return nodes.join(canon, "cluster_id").select(
        F.col("doc_id").alias("node"), "canonical", "n_members"
    )


def _anc(spark: SparkSession) -> DataFrame:
    return load_dims(spark, KG_FIXTURE_DIR).onto_ancestors


def _deprecated_dim(spark: SparkSession) -> DataFrame:
    """Deterministic stand-in for the ontology's owl:deprecated set:
    classes whose md5 starts with hex 0/1 (~1/8 of the dim). In
    production this dim comes from the ontology release; md5 is
    bit-identical in Spark and DuckDB so the oracle rebuilds the same
    set."""
    return (
        _anc(spark).select(F.col("class_iri").alias("cls")).distinct()
        .filter(F.substring(F.md5("cls"), 1, 1).isin("0", "1"))
    )


def q_kg_model_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 full: per-model content + classification report
    (GoCAMReport/ReasonerReport)."""
    return RP.model_report(_kg(spark)[0], _anc(spark))


def q_kg_entity_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 full: the per-entity curated/rule/inferred mapping table
    (GoMappingReport manual_plus_inferred_mapping)."""
    return RP.entity_mapping(_kg(spark)[0], _anc(spark))


def q_kg_reaction_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8-deep: per-reaction completeness flags (Manuscript buildVenn)."""
    return RP.reaction_venn(_kg(spark)[0], _anc(spark))


def q_kg_reaction_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8-deep: whole-journal reaction census (Manuscript runCounts)."""
    return RP.reaction_completeness(_kg(spark)[0], _anc(spark))


def q_kg_causal_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8-deep: per-model causal-format pair counts
    (Manuscript getCausalComparison)."""
    return RP.causal_formats(_kg(spark)[0], _anc(spark))


def q_kg_causal_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth min-hop causal reachability (BFS frontier layering
    keyed by (model_id, node); oracle is a recursive CTE)."""
    return RP.causal_paths(_kg(spark)[0], max_depth=4)


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model triangle census + clustering coefficient over the
    undirected causal graph (reports.causal_triangles): wedge-build +
    close as two (model_id, node)-keyed joins."""
    return RP.causal_triangles(_kg(spark)[0])


def q_kg_node_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the undirected causal
    graph (reports.node_clustering): the node-level drill-down of
    kg_triangles' global coefficient — which molecules sit inside
    mutual-regulation cliques. Triangle corners credited via one
    posexplode of the closed (a, b, c) rows; degree >= 2 only."""
    return RP.node_clustering(_kg(spark)[0])


def q_kg_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-filtered neighborhood-Jaccard node-pair similarity over the
    undirected causal graph (reports.neighbor_jaccard): the classic
    link-prediction primitive — molecules sharing regulation partners
    are functional analogues even without a direct edge. The shared-
    neighbor pivot join drops pivots with degree > hub_cap so one
    corpus-wide hub can never fan out quadratically."""
    return RP.neighbor_jaccard(_kg(spark)[0])


def q_kg_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index
    (reports.resource_allocation): 1/deg-weighted shared-neighbor
    evidence in integer micro-units — neighbor_jaccard's rare-partner-
    weighted cousin, same hub-capped pivot join."""
    return RP.resource_allocation(_kg(spark)[0])


def q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model weakly-connected components of the full KG edge graph
    (reports.kg_components over dedup.duplicate_clusters); oracle is a
    recursive-CTE transitive closure with min-reachable-node labels."""
    return RP.kg_components(_kg(spark)[0])


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model PageRank over the causal graph (reports.py): 5 rounded
    power iterations with sort-fold float determinism; the oracle is
    the same 5 iterations unrolled as generated CTEs."""
    return RP.causal_pagerank(_kg(spark)[0], iters=5)


def q_kg_chebi_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 full: chemical-class usage counts (GoMappingReport
    chebi_usage.txt)."""
    return RP.chebi_usage(_kg(spark)[0], _anc(spark))


def q_kg_deprecated_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 full: deprecated classes still used by the corpus
    (GoMappingReport deprecated_terms_used.txt)."""
    return RP.deprecated_terms_used(_kg(spark)[0], _deprecated_dim(spark))


_SAMPLE_FRACTIONS = {"src1": 0.5, "src2": 0.25, "src3": 1.0}
_MIX_TARGETS = {"src1": 0.3, "src2": 0.3, "src3": 0.4}


def q_data_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment (dataops.shard_assignment) — the
    two-phase distributed prefix sum, exact vs a single SQL window."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DO.shard_assignment(docs, target_tokens=20_000)
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      "shard")


def q_data_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified hash sampling (dataops.sample_stratified)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DO.sample_stratified(
        docs, _SAMPLE_FRACTIONS, strata_col="source", default=0.1
    ).select("doc_id", "source")


def q_data_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum difficulty buckets: per-SOURCE token-length quartiles
    via ntile(4) partitioned by source (a GLOBAL ntile would be a
    single-task window — the partitioned form is the scale-safe
    curriculum split, and per-domain quartiles are what mixture
    schedules actually consume). Deterministic tie-break (n_tokens,
    doc_id); emits per (source, bucket) the doc count and token
    min/max/sum."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    return (
        docs.withColumn("bucket", F.ntile(4).over(w))
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
    )


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, type) debounce: drop an event arriving within 60s of
    the PREVIOUS event of the same key (lag semantics — each event
    compares to its predecessor, the standard duplicate-click /
    retry-storm throttle). One keyed window, event_id tie-break for
    simultaneous rows; emits the kept events with their gap."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ep = F.unix_timestamp(F.col("ts"))
    gap = ep - F.lag(ep).over(w)
    return (
        ev.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") > 60))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce("gap_s", F.lit(-1)).alias("gap_s"),
        )
    )


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (densify): per event_type, the FULL
    hourly grid between its first and last event with zero-filled
    counts — the resample step every downstream charting/anomaly job
    needs and vanilla Spark lacks. The grid generates from each type's
    (min, max) range — one tiny per-type sequence explode, NOT a
    calendar cross-join — and left-joins the real counts back.
    Grid size is bounded by (types x hours of history), independent of
    event volume."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    h = F.date_trunc("hour", F.col("ts"))
    counts = ev.groupBy("event_type", h.alias("h")).agg(
        F.count("*").alias("n")
    )
    rng = counts.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = rng.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    return (
        grid.join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event metrics (batch): 10-minute windows sliding
    every 5 — each event lands in exactly two windows, so hourly spikes
    are visible at half-window resolution without a second scan.
    Native F.window(slideDuration=...); the oracle replays the
    epoch-aligned window arithmetic (two UNION'd bucket starts)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "window_end"
            ),
            "event_type",
            "n",
        )
    )


def q_data_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor (dataops.distribution_drift): per-source
    smoothed-share KL and total-variation terms between the first and
    second halves of the documents table standing in for two snapshot
    epochs. All three normalizing scalars come from unpartitioned
    window aggregates over the K-row census — no collects."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    half = 250
    return DO.distribution_drift(
        docs.filter(F.col("doc_id") < half),
        docs.filter(F.col("doc_id") >= half),
        key_col="source",
    )


def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture census + downsampling rates (dataops.mixture_weights)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DO.mixture_weights(docs, _MIX_TARGETS, strata_col="source").select(
        "stratum", "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "actual_prop", "target_prop", "sample_rate",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_doubled_docs(spark, sf_dir)).select(
        "md5", "n_docs", "keeper"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        _doubled_docs(spark, sf_dir, max_id=50), n=3, threshold=0.8
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        _doubled_docs(spark, sf_dir, max_id=50), n=3, k=32, bands=8, threshold=0.99
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        _doubled_docs(spark, sf_dir, max_id=50), max_hamming=0, bits=64
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components duplicate clustering (dedup.duplicate_clusters,
    iterative min-label propagation). Edge list: chains of 9 consecutive
    doc_ids (i -> i+1 unless i%9 == 8), so the true components have a
    closed form the oracle derives independently — while the Spark side
    runs the general propagation loop (needs ~4 doubling rounds for
    diameter-8 chains)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = docs.filter(F.col("doc_id") < 90)
    pairs = (
        ids.filter((F.col("doc_id") % 9) != 8)
        .select(F.col("doc_id").alias("a"),
                (F.col("doc_id") + 1).alias("b"))
        .join(ids.withColumnRenamed("doc_id", "b"), "b")
    )
    from pathways2go_spark.dedup import duplicate_clusters

    return duplicate_clusters(pairs)


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup composition: pairs -> clusters -> canonical
    survivors (dedup.dedupe_documents). Same closed-form chain edges as
    dedup_clusters, so the oracle is the surviving-id set in SQL."""
    from pathways2go_spark.dedup import dedupe_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = docs.filter(F.col("doc_id") < 90)
    pairs = (
        ids.filter((F.col("doc_id") % 9) != 8)
        .select(F.col("doc_id").alias("a"),
                (F.col("doc_id") + 1).alias("b"))
        .join(ids.withColumnRenamed("doc_id", "b"), "b")
    )
    return dedupe_documents(docs, pairs)


def q_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection (dedup.dedupe_documents_by_
    quality): same closed-form chain clusters as dedup_corpus, but each
    chain keeps its LONGEST member (n_chars, doc-id tie-break) instead
    of its smallest id — the production dedup policy. Oracle derives
    the survivor per 9-chain with one window."""
    from pathways2go_spark.dedup import dedupe_documents_by_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    ids = docs.select("doc_id").filter(F.col("doc_id") < 90)
    pairs = (
        ids.filter((F.col("doc_id") % 9) != 8)
        .select(F.col("doc_id").alias("a"),
                (F.col("doc_id") + 1).alias("b"))
        .join(ids.withColumnRenamed("doc_id", "b"), "b")
    )
    return dedupe_documents_by_quality(docs, pairs, "n_chars").select(
        "doc_id"
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dupes(_doubled_emb(spark, sf_dir), threshold=0.95)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semantic_dedup): k-means-cluster the embedding
    space with the distributed Lloyd trainer (k=8, 2 iterations, exact
    sorted-fold means so the oracle replays the training bit-exactly),
    then drop any vector whose cell holds an earlier vector at
    cosine >= 0.92 — semantic near-dup pruning whose pairwise join is
    cluster-local, never all-pairs."""
    return D.semantic_dedup(_emb(spark, sf_dir), k=8, iters=2,
                            threshold=0.92)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = TX.quality_features(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return out.select(
        "doc_id",
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len",
        "stopword_ratio",
        "punct_ratio",
        "quality_ok",
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "md5"
    )


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tok = TX.token_count("text").cast("long")
    return (
        d.select("source", n_tok.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.sum("n_tokens") / F.count("*")).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# deterministic PII injection shared by the Spark query and its oracle:
# the raw documents carry no PII, so each doc gets a synthetic email/ip
# (and a phone + ssn on even doc_ids) appended as a pure function of
# doc_id — identical string logic in both engines.
def _pii_text(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" tel 555-123-4567 ssn 123-45-6789"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _pii_text(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    counts = TX.pii_counts(d)
    red = TX.redact_pii(d).select("doc_id", F.md5("redacted").alias("redacted_md5"))
    return counts.join(red, "doc_id").select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        "redacted_md5",
    )


def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.classifier_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.paragraph_dedup(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), window=10
    )
    return out.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "kept_md5",
    )


def q_data_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 29 == 0)
    train = d.filter(F.col("doc_id") % 29 != 0)
    out = D.decontaminate(train, bench, n=5)
    return out.select(
        "doc_id", F.col("n_contam").cast("long").alias("n_contam"), "contaminated"
    )


def q_data_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DO.pack_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), budget=256, n_groups=16
    )


def q_data_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 29 == 0)
    train = d.filter(F.col("doc_id") % 29 != 0)
    return DO.corpus_funnel(train, bench, n=5)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_signals(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_text_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bigram_lm_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_data_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DO.dsir_weights(d, target=d.filter(F.col("source") == "src0"))


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir)
    return _rounded_topk(SIM.cosine_scores(_emb(spark, sf_dir), q), k=10)


def q_sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    pre = emb.withColumn(
        "bkt", SIM.sign_bucket(F.col("embedding"), LSH_PLANES, EMB_DIM)
    )
    qb = SIM.query_sign_bucket(q, LSH_PLANES, EMB_DIM)
    probe = [qb] + [qb ^ (1 << i) for i in range(LSH_PLANES)]
    pre = pre.filter(F.col("bkt").isin(probe))
    return _rounded_topk(SIM.cosine_scores(pre, q), k=10)


def q_sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: cells from 16 deterministic centroids (the first 16
    vectors — a trained codebook in production), probe the 4 nearest."""
    q = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return _rounded_topk(
        SIM.ann_topk_ivf(emb, q, cents, k=10, probe=4, round_to=6), k=10
    )


def q_sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over a codebook TRAINED by the distributed k-means
    Lloyd trainer (similarity.kmeans_fit): deterministic init (first 8
    vec_ids), 2 iterations, exact_mean sorted-fold updates so the oracle
    can replay the training bit-exactly in SQL."""
    q = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    cents = SIM.kmeans_fit(emb, k=8, iters=2, round_to=6, exact_mean=True)
    return _rounded_topk(
        SIM.ann_topk_ivf(emb, q, cents, k=10, probe=4, round_to=6), k=10
    )


def q_sim_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN over the MATERIALIZED bucket-partitioned index
    (similarity.write_lsh_index): the probe is a partition-pruned read
    of only the matching bucket directories — the 100 TB layout, where
    ann_topk_lsh's on-the-fly bucketing would still scan everything.
    Same results as sim_ann_lsh_topk (shared oracle)."""
    q = _query_vec(spark, sf_dir)
    idx_path = f"/tmp/p2g_ann_idx/lsh_{os.path.basename(os.path.normpath(sf_dir))}"
    SIM.write_lsh_index(_emb(spark, sf_dir), idx_path, LSH_PLANES, EMB_DIM)
    qb = SIM.query_sign_bucket(q, LSH_PLANES, EMB_DIM)
    probe = [qb] + [qb ^ (1 << i) for i in range(LSH_PLANES)]
    idx = spark.read.parquet(idx_path).filter(F.col("bkt").isin(probe))
    return _rounded_topk(SIM.cosine_scores(idx, q), k=10)


def q_sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (similarity.ann_topk_ivfpq): coarse-probe 4 of 16
    cells, then rank the survivors by the ADC sum of their 4 product-
    quantization codes — the compressed-vector scale path on top of
    IVF-flat. Coarse centroids and sub-codebooks derive from the first
    16 vectors (trained kmeans_fit codebooks in production)."""
    q = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    first16 = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cbs = SIM.pq_codebooks_from_rows(first16, m=4)
    return SIM.ann_topk_ivfpq(emb, q, first16, cbs, k=10, probe=4,
                              round_to=6)


def q_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN (similarity.knn_join): top-5 corpus neighbors for
    every one of the first 8 embeddings at once — the many-to-many
    retrieval shape, vs the single-query top-k above. Multi-probe
    sign-LSH (own bucket + 8 hamming-1 flips) meets the corpus in one
    bucket equi-join; per-query top-k is a q_id-keyed window. Self
    matches excluded. Oracle replays the same hyperplane bucketing,
    probes, round-6 cosine, and tie-break in SQL."""
    emb = _emb(spark, sf_dir)
    return SIM.knn_join(
        emb.filter(F.col("vec_id") < 8),
        emb,
        k=5,
        planes=LSH_PLANES,
        dim=EMB_DIM,
        exclude_self=True,
    )


def q_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH and IVF ANN paths against exact cosine
    (similarity.ann_recall): the quality harness — ANN queries above
    prove their chosen candidates exact; this measures whether the
    candidates are the RIGHT ones, the number nprobe/planes are tuned
    by. Composed from the same proven query bodies, joined relationally."""
    # the exact result feeds all three recall joins, and it is k=10 rows
    # by construction — materialize it ONCE as a literal frame so the
    # full exact-cosine scan runs exactly once per call and leaves no
    # persisted state behind (an eager localCheckpoint here leaked
    # checkpoint blocks across warm bench rounds: 7.2->8.4 s drift)
    exact_ids = [
        (r["vec_id"],)
        for r in q_sim_cosine_topk(spark, sf_dir).select("vec_id").collect()
    ]
    exact = spark.createDataFrame(exact_ids, "vec_id long")
    lsh = q_sim_ann_lsh_topk(spark, sf_dir).select("vec_id")
    ivf = q_sim_ann_ivf_topk(spark, sf_dir).select("vec_id")
    pq = q_sim_ann_ivfpq_topk(spark, sf_dir).select("vec_id")
    return SIM.ann_recall(exact, lsh, "lsh", 10).unionByName(
        SIM.ann_recall(exact, ivf, "ivf", 10)
    ).unionByName(SIM.ann_recall(exact, pq, "ivfpq", 10))


def q_media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.media_table(_docs(spark))
    return media.groupBy("media_kind").agg(
        F.count("*").alias("n_media"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_media_feature_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = MM.extract_features(MM.media_table(_docs(spark)), dim=8, fake=True)
    return feats.select(
        "doc_id", "media_ref", F.col("n_bytes").cast("long").alias("n_bytes")
    )


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A STREAMING operator under the full oracle gate: the fixture
    corpus streams through start_hll_stream (per-micro-batch register
    fold into the snapshot store, exactly-once), and the returned
    estimate must hash-match the SQL replay of the whole HLL pipeline
    over the same documents — the stream IS the batch answer, proven
    by the oracle, not just by a unit test. Fresh store/checkpoint per
    call; the streamed registers are bit-identical to batch partials
    because the fold is register-wise max of md5-derived values."""
    import shutil
    import tempfile

    from pathways2go_spark import streaming as ST

    base = tempfile.mkdtemp(prefix="p2g_stream_hll_")
    docs_dir = os.path.join(base, "docs")
    os.makedirs(docs_dir)
    shutil.copy(_fx()["documents"], os.path.join(docs_dir, "part-0.parquet"))
    store = os.path.join(base, "store")
    ck = os.path.join(base, "ck")
    q = ST.start_hll_stream(
        spark, docs_dir, store, ck, col="doc_id", max_files_per_trigger=4
    )
    q.awaitTermination(300)
    return ST.read_hll_stream(spark, store)


def q_sim_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation probe: recall@10 of exact
    cosine top-k computed on the FIRST d dims (d = 8/16/32) against the
    full 64-dim top-k — the number that says how many dimensions a
    cheaper first-pass index can drop. Same relational recall shape as
    sim_ann_recall (join the two 10-row id sets, count); each truncated
    pass is one narrow slice projection, no extra shuffle."""
    q = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    full_ids = _rounded_topk(SIM.cosine_scores(emb, q), k=10).select(
        "vec_id"
    )
    out = None
    for d in (8, 16, 32):
        te = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        ids = _rounded_topk(SIM.cosine_scores(te, q[:d]), k=10).select(
            "vec_id"
        )
        branch = (
            ids.join(full_ids, "vec_id")
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(d).alias("dim"),
                F.lit(10).cast("long").alias("k"),
                "hits",
                (F.col("hits") / 10.0).alias("recall"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("dim")


def q_data_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew planning probe: for candidate shuffle widths N in
    (8, 32, 128), bucket events by md5(user_id) % N and report the
    bucket-occupancy skew factor (max/avg) — the pre-flight a 100 TB
    job runs before sizing spark.sql.shuffle.partitions or choosing a
    salting factor.

    One scan: the candidate widths explode against each row's single
    md5 hash, so all three censuses fold in one groupBy over at most
    sum(N) keys. Skew is integer-assembled (max*N/rows) and
    fixed-point-rounded."""
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        )
    ).cast("long")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        h.alias("h")
    )
    widths = F.explode(F.array(*[F.lit(n) for n in (8, 32, 128)]))
    per_bucket = (
        ev.select("h", widths.alias("n_parts"))
        .groupBy("n_parts", (F.col("h") % F.col("n_parts")).alias("b"))
        .agg(F.count("*").alias("c"))
    )
    skew = F.floor(
        F.col("max_rows") * F.col("n_parts") / F.col("n_rows") * 1e6
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        per_bucket.groupBy("n_parts")
        .agg(
            F.count("*").alias("n_buckets_used"),
            F.max("c").alias("max_rows"),
            F.sum("c").alias("n_rows"),
        )
        .select(
            "n_parts",
            "n_buckets_used",
            "max_rows",
            "n_rows",
            skew.alias("skew"),
        )
        .orderBy("n_parts")
    )


def q_events_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (Delta/Hudi-style latest-wins upsert apply):
    events read as a CDC stream keyed by user_id, ordered by
    (ts, event_id), where 'error' rows are tombstones — the final
    state keeps each key's latest change unless that change is a
    delete. Distinct from SCD2 (validity intervals) and MERGE
    (two-table): this is the log-to-snapshot compaction every
    lakehouse table maintenance job runs.

    One keyed window (row_number by seq desc) — no joins; the change
    census rides the same shuffle. Integer counts, cent-exact value."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v_cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count("*").over(Window.partitionBy("user_id")),
        )
        .filter((F.col("rk") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            (F.col("v_cents") / F.lit(100.0)).alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "n_changes",
        )
        .orderBy("user_id")
    )


def q_join_fanout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion pre-flight: predict the output size of a
    user_id self-join of events from the per-key census alone
    (sum over keys of n^2) and attribute it — total predicted rows,
    the top-5 contributing keys, and the share of the blow-up owned by
    the top-5 (fixed-point) — the quadratic-hub detector a 100 TB job
    runs BEFORE attempting a join that would explode, and the number a
    salting factor is chosen from.

    One map-side-combinable census groupBy, persisted (key-bounded,
    two ints per key) so the top-5 TakeOrdered job and the totals
    aggregate share it; NO global-window rank (a single-task sort of
    the census would itself be the anti-pattern at a billion keys) —
    TakeOrdered is a per-partition heap + driver merge of 5 rows. The
    fact is scanned once and the probed join never executes."""
    cen = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .withColumn("contrib", F.col("n") * F.col("n"))
        .persist()
    )
    # deterministic hottest-key pick under contrib ties: max of
    # (contrib, -user_id) lexicographically == smallest user_id among
    # the max-contrib keys
    hot = F.max(
        F.struct(
            F.col("contrib").alias("c"),
            (-F.col("user_id")).alias("nu"),
            F.col("n").alias("hn"),
        )
    )
    top5 = (
        cen.orderBy(F.col("contrib").desc(), F.col("user_id"))
        .limit(5)
        .agg(F.sum("contrib").alias("top5_rows"), hot.alias("h"))
        .select(
            "top5_rows",
            (-F.col("h.nu")).alias("hottest_key"),
            F.col("h.hn").alias("hottest_n"),
        )
    )
    tot = cen.agg(
        F.sum("contrib").alias("predicted_rows"),
        F.count("*").alias("n_keys"),
    )
    share = F.floor(
        F.col("top5_rows") / F.col("predicted_rows") * 1e6 + F.lit(0.5)
    ) / F.lit(1e6)
    return tot.join(F.broadcast(top5)).select(
        "predicted_rows",
        "n_keys",
        "top5_rows",
        share.alias("top5_share"),
        "hottest_key",
        "hottest_n",
    )


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the 20 most common 3-event paths
    (consecutive event-type trigrams per user, (ts, event_id) order) —
    the sequence census funnel design starts from. Two lags over ONE
    keyed window; the census groupBy is bounded by |types|^3.
    Deterministic lexicographic tie-break."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .filter(F.col("t1").isNotNull())
        .groupBy(
            "t1", "t2", F.col("event_type").alias("t3")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level exact media dedup (multimodal.media_dedup): the
    fixture's media table plus a '~dup'-suffixed twin of every row, so
    each blob appears twice and the keeper is provably the original
    (string order puts 'X' before 'X~dup'). Content-hash equality
    needs no decode — codec-free and byte-exact."""
    media = MM.media_table(_docs(spark)).select(
        "doc_id", "media_ref", "payload"
    )
    twin = media.select(
        F.concat(F.col("doc_id"), F.lit("~dup")).alias("doc_id"),
        "media_ref",
        "payload",
    )
    return MM.media_dedup(media.unionByName(twin)).orderBy("content_md5")


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, hour-of-day): one pass emits
    the full lattice — per-cell, per-type, per-hour, and grand totals —
    as Spark's native partial-agg-friendly expand, with NULL lattice
    markers coalesced to sentinels so the result is join- and
    oracle-stable (event_type is never NULL in the data)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("hr", F.hour("ts"))
        .cube("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("hr"), F.lit(-1)).cast("int").alias("hr"),
            "n", "min_value", "max_value",
        )
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + JSON props
    extraction — the classic clickstream operator. Plan shape: ONE
    shuffle total — the window partitions by user_id, and the per-
    session groupBy's (user_id, session_seq) clustering is satisfied by
    the window's hash(user_id) partitioning, so the aggregate reuses the
    exchange. All outputs are integers/strings (order-independent)."""
    # ts is TIMESTAMP_NTZ; pin the session tz so the NTZ->instant cast
    # is the identity wall-clock mapping DuckDB's epoch_us uses
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    with_s = ev.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (merge-scan formulation, relational.py):
    every purchase event picks up the most recent prior view of the
    same user. Oracle is DuckDB's native ASOF LEFT JOIN."""
    from pathways2go_spark.relational import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts_us"
    )
    out = asof_join(
        purchases, views, on=["user_id"], left_ts="ts_us",
        right_ts="ts_us", right_cols=["view_event_id"],
    )
    # no-match sentinel -1 instead of NULL: NaN round-trips differently
    # through Arrow/pandas on the two engines, -1 hashes identically
    return out.select(
        "event_id", "user_id", "ts_us",
        F.coalesce("view_event_id", F.lit(-1)).alias("view_event_id"),
        F.coalesce(F.col("ts_us") - F.col("asof_ts"), F.lit(-1)).alias(
            "gap_us"
        ),
    )


def q_events_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval range join (relational.py): every
    purchase pairs with each view of the same user in the preceding
    10 minutes. Oracle is a plain SQL inequality join."""
    from pathways2go_spark.relational import range_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ten_min_us = 600_000_000
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.col("ts_us").alias("view_lo"),
        (F.col("ts_us") + ten_min_us).alias("view_hi"),
    )
    out = range_join(
        purchases, views, on=["user_id"], point="ts_us",
        lo="view_lo", hi="view_hi", bucket_width=ten_min_us,
    )
    return out.select(
        "event_id", "user_id", "ts_us", "view_event_id",
        (F.col("ts_us") - F.col("view_lo")).alias("gap_us"),
    )


def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per source (sketches.py) — bounded
    mapInPandas partials + relational merge, integer-exact estimator;
    oracle mirrors the algorithm (k smallest distinct md5-32 hashes)."""
    from pathways2go_spark.sketches import kmv_distinct

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kmv_distinct(d, col="text", keys=["source"], k=16)


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sample quantile sketch (sketches.kmv_sample_quantiles):
    quantiles of document length read off the 256 rows with the
    smallest md5(doc_id) — deterministic, mergeable, TakeOrdered-only
    (no global sort)."""
    from pathways2go_spark.sketches import kmv_sample_quantiles

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kmv_sample_quantiles(d, "n_chars", "doc_id", k=256)


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus token stream
    (sketches.cms_heavy_hitters): depth*width bounded cells, md5 hash
    family, est >= true count — the bounded-memory hub-key detector.
    The oracle replays the identical sketch in SQL."""
    from pathways2go_spark.sketches import cms_heavy_hitters

    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return cms_heavy_hitters(toks, col="tok", k=10, width=64, depth=4)


def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-sketch set algebra (sketches.kmv_set_ops): distinct-
    token-count estimates for two corpus halves and their union /
    intersection, from two bounded k=16 sketches (the token domain
    exceeds k, so the saturated inverse-probability estimator path is
    what the oracle checks) — never co-shuffling
    the raw token sets. All-integer estimators; the oracle replays the
    identical sketch algebra in SQL."""
    from pathways2go_spark.sketches import kmv_set_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    a = toks.filter(F.length("source") <= 4).select("tok")
    b = toks.filter(F.length("source") > 4).select("tok")
    return kmv_set_ops(a, b, col="tok", k=16)


def q_data_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sampling (dataops.weighted_sample):
    per language, 5 documents with inclusion probability proportional
    to n_chars — derandomized u from md5(doc_id), selection key
    -ln(u)/w rounded half-up at 1e-9 so the survivor set is a pure
    function of ids and weights (exact SQL oracle, retry-stable)."""
    from pathways2go_spark.dataops import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(
        docs, k=5, weight_col="n_chars", id_col="doc_id", keys=["lang"]
    )


def q_events_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union (relational.interval_coverage):
    per user, merge overlapping [ts, ts + value*10s) activity intervals
    into maximal islands and report interval/island counts + covered
    microseconds. One shuffle on user_id; windows + rollup reuse it."""
    from pathways2go_spark.relational import interval_coverage

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        s.alias("s"),
        (s + F.floor(F.col("value") * F.lit(1e7))).alias("e"),
    )
    return interval_coverage(iv, ["user_id"], "s", "e")


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (1 min -> 1 h -> 1 day),
    coarser levels folding the finer level's partials (relational.py).
    Oracle re-aggregates each resolution directly from the raw table."""
    from pathways2go_spark.relational import hypertable_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return hypertable_rollup(
        ev, ts="ts_us", keys=["event_type"], value="k",
        resolutions=[60_000_000, 3_600_000_000, 86_400_000_000],
    )


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (relational.salted_join): events carry only 5
    distinct event_type values, so a plain shuffle join funnels ~20% of
    the table through one reducer per key; salting fans each hot key
    over 16 (key, salt) partitions by replicating the small dim. The
    salt never escapes, so the oracle is the plain join."""
    from pathways2go_spark.relational import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("w", F.length("event_type").cast("long"))
    )
    j = salted_join(ev.select("event_id", "event_type", "value"),
                    dim, "event_type", salt=16)
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.max("w").alias("w"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join (relational.py): lineitem rows of
    urgent orders, pruned by a literal-bitmap membership test inside
    the probe scan before the verifying semi-join. Result is exactly
    the plain semi-join (false positives are re-verified), so the
    oracle is ordinary IN-subquery SQL."""
    from pathways2go_spark.relational import bloom_semi_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    urgent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 collapse of the events changelog (relational.py):
    per user, effective-dated versions of event_type with null-safe
    change detection and [valid_from, valid_to) dating — one shuffle,
    two windows. Oracle mirrors with lag/lead + IS DISTINCT FROM."""
    from pathways2go_spark.relational import scd2_versions

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "event_id",
    )
    out = scd2_versions(
        ev, keys=["user_id"], ts="ts_us", attrs=["event_type"],
        tie_break="event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to_us"),
        "is_current",
        F.col("version").cast("long").alias("version"),
    )


def q_doc_length_pcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length percentiles by value-domain compression
    (sketches.exact_quantiles): one (source, length)->count groupBy,
    cumulative-histogram rank probe — no global sort of the corpus.
    All-integer rank definition, so the oracle is the same formula."""
    from pathways2go_spark.sketches import exact_quantiles

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.length("text").alias("len")
    )
    return exact_quantiles(d, col="len", pcts=[25, 50, 90, 99],
                           keys=["source"])


def q_events_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-state maintenance (relational.py): the
    running (n, sum, min, max) state built from half the events is
    folded with the other half's partials — never re-scanning history.
    The oracle aggregates the whole table directly, so the fold is
    proven exact, not just shape-checked."""
    from pathways2go_spark.relational import incremental_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "event_id",
    )
    hist = ev.filter(F.col("event_id") % 2 == 0)
    delta = ev.filter(F.col("event_id") % 2 == 1)
    state = incremental_agg(None, hist, ["event_type"], "k")
    return incremental_agg(state, delta, ["event_type"], "k")


def q_data_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap (dataops.cap_per_key): keep at most 10
    documents per source, chosen deterministically by (md5(id), id) —
    the salted two-phase top-cap, so a hub domain never lands in one
    sorted partition. Survivors are a pure function of the ids, so the
    oracle is one SQL QUALIFY; returning the rows themselves proves the
    exact kept SET, not just its size."""
    from pathways2go_spark.dataops import cap_per_key

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return cap_per_key(d, cap=10, key_col="source", id_col="doc_id")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for the query {hash, merge, vector}
    (textops.bm25_topk): the lexical retrieval scorer. Per-(doc, term)
    partials are fixed-pointed to micro-units and int64-summed, so the
    document score is order-independent; the oracle replays the exact
    operation order, ln round-6 idf, and tie-break."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return TX.bm25_topk(docs, ["hash", "merge", "vector"], k=10)


def q_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (similarity.rrf_fuse)
    of the BM25 top-20 for {hash, merge, vector} with the kNN top-20
    for query vector 0 — ranks cross systems, scores never do. Both
    input lists are the proven query bodies above; the fusion is a
    union + groupBy over 40 rows. Fixed-point 1/(60+rank) micro-units,
    int64-summed, so the fused score is engine-exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bm = TX.bm25_topk(docs, ["hash", "merge", "vector"], k=20)
    wb = Window.orderBy(F.desc("score"), F.asc("doc"))
    bm_ranked = bm.select(
        "doc", F.row_number().over(wb).alias("rank")
    )
    emb = _emb(spark, sf_dir)
    kn = SIM.knn_join(
        emb.filter(F.col("vec_id") == 0),
        emb,
        k=20,
        planes=LSH_PLANES,
        dim=EMB_DIM,
        exclude_self=True,
    ).select(F.col("nbr_id").alias("doc"), "rank")
    return SIM.rrf_fuse([bm_ranked, kn], k0=60, topk=10)


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (textops.inverted_index): token -> (df, sorted
    posting string) with a max_df hub cap, aggregated down to per-df
    census + md5 of the posting set so the result stays small while
    still pinning every posting byte."""
    from pathways2go_spark.textops import inverted_index

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = inverted_index(d, max_df=395)
    return idx.groupBy("df").agg(
        F.count("*").alias("n_terms"),
        F.sum(F.length("postings")).alias("postings_chars"),
        F.md5(
            F.concat_ws(
                "|",
                F.sort_array(
                    F.collect_list(F.concat_ws(":", "term", "postings"))
                ),
            )
        ).alias("content_md5"),
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (textops.tfidf_top_terms):
    6-decimal-rounded idf before the integer tf multiply, rank ties on
    (tfidf DESC, term), so rank order is engine-identical."""
    from pathways2go_spark.textops import tfidf_top_terms

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(d, k=3)


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (relational.zorder_key) over
    (user_id, event hour): per 64-bucket prefix of the Morton key,
    count + min/max of BOTH dimensions — tight per-bucket ranges on
    both are exactly the file-footer property that lets a predicate on
    EITHER column prune a Z-ordered 100 TB table. The key math is
    plain bit arithmetic, mirrored term-for-term in the oracle."""
    from pathways2go_spark.relational import zorder_key

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("x"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
        ).alias("y"),
    )
    z = zorder_key(F.col("x"), F.col("y"), bits=10)
    return (
        ev.withColumn("zb", F.shiftright(z, 14))
        .groupBy("zb")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        # broadcast only the fixed-size dim (nation, 25 rows); customer
        # grows with scale factor, so its join strategy is left to AQE
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


def q_tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority pipeline: segment-filtered
    customers x pre-cutoff orders x post-cutoff lineitems, top-10 orders
    by revenue. The segment filter runs BEFORE the join so only the
    1/5-selectivity key column ships (broadcast — the filtered customer
    dim is bounded by segment share, and the explicit hint keeps the big
    fact tables shuffle-free on that edge at any scale); the date
    filters sit on the scans where parquet min/max pruning sees them.
    Top-10 orders by (rounded revenue desc, orderkey) — a total order,
    so LIMIT is deterministic in both engines."""
    cutoff = "1998-01-01"
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > cutoff)
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue per nation for one
    region and year where the customer and supplier share the nation —
    the classic six-table snowflake join.

    Plan shape at scale: region -> nation is a 5x25-row broadcast chain;
    customer and supplier each pre-join their (broadcast) nation slice
    so only keys + nationkey ship; the two FACT-side joins key on
    l_suppkey and (l_orderkey, nationkey) respectively — lineitem is
    never shuffled on anything but its join keys, and the year filter
    sits on the orders scan for parquet min/max pruning.

    Float determinism: revenue terms are fixed-pointed PER ROW
    (floor(price * (1-disc) * 1e4 + 0.5), one IEEE expression both
    engines evaluate identically) and summed as int64 — an
    order-independent exact sum, unlike a double sum over thousands of
    rows — then divided once at the end."""
    r = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(1e4)
        + F.lit(0.5)
    ).cast("long")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", rev_i.alias("rev_i")
    )
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    ls = li.join(s, F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_orderkey", "s_nationkey", "rev_i"
    )
    return (
        ls.join(
            oc,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum("rev_i") / F.lit(1e4)).alias("revenue"),
        )
    )


def q_tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecasting revenue change: one scan, three
    pushed predicates (date range, discount band, quantity cap), one
    fixed-point sum — the pure filter-aggregate baseline every engine
    should run at scan speed. No joins, no shuffle beyond the final
    single-row combine."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 1e4 + 0.5
    ).cast("long")
    return l.agg(F.sum(rev_i).alias("rev_i")).select(
        "rev_i", (F.col("rev_i") / F.lit(1e4)).alias("revenue")
    )


def q_tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity-order revenue: line items whose
    quantity is below 20% of their part's average quantity.

    Plan shape: the per-part average is a window over l_partkey — ONE
    shuffle of lineitem, no second scan and no correlated-subquery
    rejoin (the classic Q17 trap is scanning lineitem twice). The
    average is sum/count per part (one double division, both operands
    integer-exact), the 0.2 threshold comparison happens row-side, and
    the surviving revenue is fixed-point summed."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum("l_quantity").over(w) / F.count("*").over(w)
    kept = l.withColumn("avg_qty", avg_qty).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    price_i = F.floor(F.col("l_extendedprice") * 1e4 + 0.5).cast("long")
    return kept.agg(F.sum(price_i).alias("price_i")).select(
        "price_i",
        F.round(F.col("price_i") / F.lit(1e4) / F.lit(7.0), 6).alias(
            "avg_yearly"
        ),
    )


def q_tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion effect: the share of one month's
    revenue from PROMO-type parts. One scan-filtered month of lineitem
    joins the part dim on partkey (dim broadcasts), with the promo
    split as a conditional aggregate — never two scans or a self-join.
    Revenue fixed-pointed per row, int64 sums; the ratio is one double
    division at the end, emitted round-6 alongside both exact sums."""
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1996-03-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_partkey", rev_i.alias("rev_i"))
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type"
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    return j.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", F.col("rev_i")).otherwise(
                F.lit(0)
            )
        ).alias("promo_i"),
        F.sum("rev_i").alias("total_i"),
    ).select(
        "promo_i",
        "total_i",
        F.round(
            F.lit(100.0) * F.col("promo_i") / F.col("total_i"), 6
        ).alias("promo_pct"),
    )


def q_tpch_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: orders placed in one
    quarter counted per priority class, keeping only orders where at
    least one line item shipped AFTER the order date (the EXISTS
    correlated subquery; the canonical Q4 predicate l_commitdate <
    l_receiptdate uses columns this lineitem lacks, so the late-ship
    predicate stands in — same correlated-existence shape).

    Plan shape at scale: the date filter cuts orders AT THE SCAN
    (PushedFilters), then ONE left-semi join carries the equi key
    (l_orderkey = o_orderkey) plus the correlated inequality as the
    join condition — existence semantics without materializing the
    match multiset, so a 7-line order contributes once and nothing
    needs a distinct. The final groupBy runs on the already-tiny
    semi-join output."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        o.join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume customers: the top 100 orders whose
    total line-item quantity exceeds a threshold, with the customer who
    placed them.

    Plan shape at scale: lineitem aggregates to (l_orderkey,
    sum_qty) FIRST — one map-side-combinable groupBy on the natural
    key — and that single aggregate serves as BOTH the HAVING
    semi-filter and the reported sum (the classic Q18 trap is running
    the subquery and the outer sum as two scans of lineitem). Orders
    joins the already-collapsed aggregate (one row per order, no
    fan-out), customer is a dim join afterward. l_quantity is
    integer-valued, so the double sum is order-independent and
    engine-exact. LIMIT 100 tie-broken on o_orderkey."""
    qty = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q_tpch_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: how many
    customers placed exactly k (non-urgent) orders, INCLUDING the
    zero-order customers — the left-outer-join + double-aggregation
    shape.

    Plan shape at scale: orders pre-aggregates to (o_custkey, cnt)
    first — one map-side-combinable groupBy on the fact — so the outer
    join against customer moves one row per customer, not one per
    order. The second groupBy is over at most max-order-count distinct
    keys (tiny). All counts are integers — engine-exact."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    per_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped shipping-delay report: per order priority, how
    many 1997 line items shipped late (>60 days after the order date)
    vs on time — the fact-fact join + conditional-aggregation shape
    (our schema has no l_shipmode/commitdate, so priority is the
    grouping axis and order-to-ship latency the lateness predicate).

    Plan shape at scale: lineitem is filtered on l_shipdate at the scan
    (pushed to parquet row-group stats), joins orders on l_orderkey,
    and the CASE counts fold in one map-side-combinable groupBy over
    five keys. Integer counts — engine-exact."""
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_shipdate")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ) > 60
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(late, 0).otherwise(1)).alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


def q_tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral shipping volume: yearly revenue flowing
    between NATION_1 and NATION_2 (both directions) over 1996-1997 —
    the two-dimension-role join shape where nation binds once through
    the supplier and once through the customer.

    Plan shape at scale: supplier and customer are dims (broadcast);
    the only fact-fact shuffle is lineitem x orders on l_orderkey.
    The nation-pair filter applies at each dim join so the fact-fact
    join moves only qualifying rows. Revenue fixed-pointed per row and
    summed as int64 — order-independent, engine-exact."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_nationkey").isin(1, 2))
        .select("s_suppkey", F.col("s_nationkey").alias("supp_nk"))
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_nationkey").isin(1, 2))
        .select("c_custkey", F.col("c_nationkey").alias("cust_nk"))
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            rev_i.alias("rev_i"),
        )
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nk") != F.col("cust_nk"))
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "supp_nation")),
            F.col("supp_nk") == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "cust_nation")),
            F.col("cust_nk") == F.col("n_nationkey"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("rev_i") / F.lit(1e4)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the supplier(s) with the maximum
    revenue over 1996Q1 — the aggregate-then-join-on-global-max shape
    (the reference view + scalar subquery, expressed as a 1-row
    broadcast join so no second scan of lineitem).

    Plan shape at scale: one map-side-combinable groupBy of the
    filtered fact to (l_suppkey, rev_sum); the global max is an
    aggregate OF THAT aggregate (bounded rows), broadcast back as one
    row. The per-supplier aggregate is persisted (dim-sized — one row
    per supplier): the broadcast-side max job populates the cache, so
    the outer join reads the cache instead of re-scanning lineitem —
    without it the plan provably scans the fact twice. Ties (exact
    int64 compare) all surface, deterministically ordered. Supplier
    dim joins after the max filter — it moves only the winners."""
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    per_supp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", rev_i.alias("rev_i"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev_i").alias("rev_sum"))
        .persist()
    )
    mx = per_supp.agg(F.max("rev_sum").alias("mx"))
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.join(F.broadcast(mx), per_supp.rev_sum == mx.mx)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_sum") / F.lit(1e4)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: one revenue total
    over an OR of three (brand, size-range, quantity-range) clauses —
    the shape that tests whether superset predicates are factored OUT
    of the OR and pushed to both scans.

    Plan shape at scale: the brand IN-list and the size/quantity hull
    (size<=15, 1<=qty<=30) are applied as standalone conjuncts so both
    parquet scans prune on them (PushedFilters), and only the residual
    OR runs post-join. Part is a dim — broadcast. Revenue fixed-pointed
    per row, summed int64."""
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#14")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .select("l_partkey", "l_quantity", rev_i.alias("rev_i"))
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 5)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & (F.col("l_quantity") >= 20)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(clause)
        .agg((F.sum("rev_i") / F.lit(1e4)).alias("revenue"))
    )


def q_tpch_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant high-balance customers: per nation (of a
    7-nation watch set), how many customers hold an above-average
    positive balance yet placed no RECENT orders (none since
    2000-01-01; this datagen gives every customer at least one
    lifetime order, so lifetime-dormancy is vacuous) — the
    scalar-subquery + anti-join shape.

    Plan shape at scale: the positive-balance average over the watch
    set is ONE tiny aggregate (sum, count as int64 cents) broadcast as
    a single row; the above-average test is integer cross-multiplied
    (cents*n > sum_cents — no float division, engine-exact); the
    recency test is a left-anti join against date-filtered orders
    (filter pushed to the scan) projected to o_custkey. Customer is
    scanned once with the nation filter pushed."""
    nations = [3, 5, 7, 9, 11, 13, 17]
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_nationkey").isin(nations))
        .select("c_custkey", "c_nationkey", cents.alias("bal_i"))
    )
    stats = c.filter(F.col("bal_i") > 0).agg(
        F.sum("bal_i").alias("sum_i"), F.count("*").alias("n_pos")
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(stats))
        .filter(F.col("bal_i") * F.col("n_pos") > F.col("sum_i"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum("bal_i") / F.lit(100.0)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_7 suppliers' share of PROMO
    part revenue sold to ASIA-region customers, per order year — the
    conditional-share shape where nation binds through BOTH dim roles
    and the share is a ratio of two sums over the same rows.

    Plan shape at scale: part (type filter), supplier, customer
    (region filter via broadcast nation) are dim joins; the one
    fact-fact shuffle is lineitem x orders on the order key. Numerator
    and denominator accumulate as int64 in the SAME groupBy (no second
    pass); the final ratio is fixed-point-rounded to 6dp identically
    in both engines."""
    asia = [2, 7, 12, 17, 22]
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_nationkey").isin(asia))
        .select("c_custkey")
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", rev_i.alias("rev_i")
    )
    num = F.sum(
        F.when(F.col("s_nationkey") == 7, F.col("rev_i")).otherwise(
            F.lit(0)
        )
    )
    share = F.floor(num / F.sum("rev_i") * 1e6 + F.lit(0.5)) / F.lit(1e6)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_year")
        .agg(share.alias("mkt_share"))
        .orderBy("o_year")
    )


def q_tpch_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit: per (supplier nation, order
    year), profit on 'red' parts where profit = revenue minus a cost
    proxy (p_retailprice x quantity — the schema has no partsupp) —
    the widest join tree in the suite (fact x 3 dims x fact).

    Plan shape at scale: part (name filter), supplier, nation broadcast;
    the single fact-fact shuffle is lineitem x orders on the order key,
    AFTER the dim joins have cut lineitem to matching parts. Both
    profit terms are fixed-pointed PER ROW before the subtraction so
    the int64 sum is order-independent and engine-exact."""
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    amount_i = (
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4
            + 0.5
        ).cast("long")
        - F.floor(
            F.col("p_retailprice") * F.col("l_quantity") * 1e4 + 0.5
        ).cast("long")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_orderkey", "n_name", amount_i.alias("amount_i"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg((F.sum("amount_i") / F.lit(1e4)).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped cheapest supplier per part: for every size-15
    part, the supplier(s) offering the minimum observed unit price —
    the per-key argmin shape (Q2's correlated MIN subquery). The
    schema has no partsupp, so the part-supplier relation and the
    price come from lineitem (observed sales).

    Plan shape at scale: lineitem collapses to (partkey, suppkey,
    min unit price) in one map-side-combinable groupBy; the argmin is
    a per-part window over THAT aggregate (bounded: suppliers per
    part), not over the fact. Part filter broadcasts; ties all
    surface via exact int64 price compare, deterministically ordered.
    Unit price is fixed-pointed per row BEFORE the min."""
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_size") == 15)
        .select("p_partkey")
    )
    unit_i = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 1e4 + 0.5
    ).cast("long")
    offers = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey", unit_i.alias("unit_i"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_i").alias("min_i"))
    )
    w = Window.partitionBy("l_partkey").orderBy("min_i", "l_suppkey")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        offers.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "s_acctbal",
            (F.col("min_i") / F.lit(1e4)).alias("min_unit_price"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


def q_tpch_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: parts whose sales value from
    NATION_9 suppliers exceeds 1/1000 of that nation's total — the
    group-HAVING-above-global-fraction shape.

    Plan shape at scale: one groupBy of the nation-filtered fact to
    (partkey, value); the global total is an aggregate OF the
    pre-aggregate, broadcast as one row; the threshold test is integer
    cross-multiplied (value*1000 > total — no float division). The
    pre-aggregate is persisted (part-dim-sized) so the broadcast-total
    job populates the cache and the threshold join reuses it — one
    fact scan, plan-verified. The nation filter rides the broadcast
    supplier dim into the scan-side join, so unrelated suppliers' rows
    never shuffle."""
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_nationkey") == 9)
        .select("s_suppkey")
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    per_part = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey", rev_i.alias("rev_i"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("rev_i").alias("value_i"))
        .persist()
    )
    total = per_part.agg(F.sum("value_i").alias("total_i"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_i") * 1000 > F.col("total_i"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_i") / F.lit(1e4)).alias("value"),
        )
        .orderBy(F.col("value").desc(), "p_partkey")
    )


def q_tpch_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier census: per (brand, size) of a size
    watch-list, how many DISTINCT suppliers sold the part — excluding
    negative-balance suppliers (the complaints blacklist stand-in) —
    the anti-join + count-distinct shape.

    Plan shape at scale: the blacklist is a broadcast left-anti join
    applied to the (partkey, suppkey) DISTINCT pairs, which collapse
    from the fact in one map-side-combinable distinct BEFORE the dim
    join — the count-distinct shuffle moves pair keys, never raw
    lineitem rows. Integer counts, engine-exact."""
    sizes = [1, 5, 10, 15, 20, 25, 30, 35]
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(
            F.col("p_size").isin(sizes)
            & (F.col("p_brand") != "Brand#5")
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == bad.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    )
    return (
        pairs.groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_size"
        )
    )


def q_tpch_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-late-supplier census: per supplier, the
    number of multi-supplier orders where THAT supplier was the only
    one to ship late (>90 days after the order date) — Q21's
    exists + not-exists pair, re-expressed as ONE per-order aggregate:
    distinct suppliers, distinct LATE suppliers, and (via max over the
    late supplier ids) the sole offender when exactly one exists.

    Plan shape at scale: lineitem joins date-carrying orders once on
    the order key, then a single groupBy on that key computes all
    three per-order facts — when n_late = 1 the max IS the offender,
    so no join back to the fact, no self-join, ONE fact scan
    (plan-verified). The final census groups bounded per-order rows
    by supplier. Integer counts — engine-exact."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ) > 90
    lines = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    late_supp = F.when(F.col("is_late"), F.col("l_suppkey"))
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late"),
        F.max(late_supp).alias("offender"),
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        per_order.filter(
            (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .groupBy("offender")
        .agg(F.count("*").alias("numwait"))
        .join(s, F.col("offender") == F.col("s_suppkey"))
        .select("s_name", "s_suppkey", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(100)
    )


def q_tpch_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped dominant suppliers: suppliers who shipped more
    than half of a red part's total 1997 volume — Q20's correlated
    half-of-aggregate threshold, re-expressed as a per-key aggregate
    pair (per part-supplier qty vs per-part total) with an integer
    2x cross-multiplication instead of the correlated 0.5* subquery.

    Plan shape at scale: ONE groupBy to (part, supplier, qty); the
    per-part total is a WINDOW over that aggregate partitioned by
    part — it rides the same (part, supplier) shuffle, so the fact is
    scanned once (plan-verified) and no broadcast materializes.
    Quantities are integer-valued doubles, cast to int64 for the
    exact comparison. Suppliers surface distinct, ordered."""
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("long").alias("qty_i"),
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    )
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty_i").alias("supp_qty")
    )
    tot_w = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        ps.withColumn("tot_qty", tot_w)
        .filter(F.col("supp_qty") * 2 > F.col("tot_qty"))
        .select("l_suppkey")
        .distinct()
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly anomaly detection: per event_type, flag hours whose count
    deviates >=2 sigma from the TRAILING 24-hour mean — the rolling
    z-score monitor every ops/data-quality pipeline runs. Built on the
    densified hourly grid (events_resample) so 'trailing 24 rows' is
    trailing 24 HOURS even across silent gaps.

    Plan shape at scale: one map-side-combinable hourly groupBy of the
    fact, a bounded grid explode (types x hours of history), then one
    keyed window pass. Mean/variance come from integer sum and
    sum-of-squares over the window — order-independent, engine-exact —
    and the z-score is fixed-point-rounded to 6dp before the threshold
    compare so both engines flag identical hours."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type"
    )
    h = F.date_trunc("hour", F.col("ts"))
    counts = ev.groupBy("event_type", h.alias("h")).agg(
        F.count("*").alias("n")
    )
    rng = counts.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = rng.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    dense = grid.join(counts, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    dense = dense.select(
        "event_type",
        "h",
        "n",
        F.sum("n").over(w).alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("sumsq"),
        F.count("n").over(w).alias("cnt"),
    )
    mean = F.col("sum_n") / F.lit(24.0)
    var = (
        F.col("sumsq")
        - F.col("sum_n") * F.col("sum_n") / F.lit(24.0)
    ) / F.lit(23.0)
    z = (F.col("n") - mean) / F.sqrt(var)
    zr = F.floor(z * 1e6 + F.lit(0.5)) / F.lit(1e6)
    return (
        dense.filter((F.col("cnt") == 24))
        .withColumn("var", var)
        .filter(F.col("var") > 0)
        .withColumn("z", zr)
        .filter(F.abs(F.col("z")) >= 2.0)
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "z",
        )
    )


def q_sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier filter: the 5 vectors farthest (squared
    euclidean) from their label's centroid — the distance-to-centroid
    quality gate embedding pipelines run before training.

    Plan shape at scale: posexplode to (vec_id, label, dim, value) —
    a x64 row explosion of a narrow projection, NOT of the corpus
    bytes; centroids are one groupBy over (label, dim) — bounded keys
    (labels x dims) — broadcast back; per-vector distances are one more
    map-side-combinable groupBy. The top-5 window partitions by label
    only, so its parallelism is the label count — fine here; at true
    100 TB you'd pre-prune with a per-partition top-k before the
    window. Exactness: components fixed-pointed to 1e-6 ints, centroid
    rounded to the same grid, distances summed as int64 — fully
    order-independent, no float accumulation anywhere."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "e")
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("e").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("sv"),
    )
    cent = ex.groupBy("label", "i").agg(
        F.floor(
            F.sum("sv").cast("double") / F.count("*") + F.lit(0.5)
        )
        .cast("long")
        .alias("c6")
    )
    diff = F.col("sv") - F.col("c6")
    per_vec = (
        ex.join(F.broadcast(cent), ["label", "i"])
        .select("vec_id", "label", (diff * diff).alias("d2"))
        .groupBy("vec_id", "label")
        .agg(F.sum("d2").alias("dist_i"))
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist_i").desc(), "vec_id"
    )
    return (
        per_vec.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "label",
            "vec_id",
            (F.col("dist_i") / F.lit(1e12)).alias("dist"),
        )
        .orderBy("label", "vec_id")
    )


def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust clipping summary (sketches.winsorize): clamp
    event values to the exact per-type [p1, p99] band and report the
    band, the clip counts, and the winsorized mean — the outlier
    treatment that keeps one fat-finger purchase from owning the mean.
    Percentiles are exact (value-domain compression, no global sort);
    every comparison is integer cents; the mean is rounded to the cent
    identically in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    wz = SK.winsorize(ev, "value", keys=["event_type"])
    return (
        wz.groupBy("event_type")
        .agg(
            (F.min("__lo") / F.lit(100.0)).alias("p01"),
            (F.min("__hi") / F.lit(100.0)).alias("p99"),
            F.count("*").alias("n"),
            F.sum(
                (F.col("__vi") < F.col("__lo")).cast("long")
            ).alias("n_clipped_low"),
            F.sum(
                (F.col("__vi") > F.col("__hi")).cast("long")
            ).alias("n_clipped_high"),
            (
                F.floor(
                    F.sum("__clipped") / F.count("*") + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("mean_clipped"),
        )
        .orderBy("event_type")
    )


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (textops.ngram_novelty): fraction of
    a doc's distinct trigrams first seen (min doc_id) in that doc —
    the freshness/memorization signal curriculum jobs rank by."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return TX.ngram_novelty(docs, n=3)


def q_data_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation (dataops.budget_allocation)
    at budget = half the corpus: small sources keep everything, big
    sources clip to one shared integer cap — the fair-allocation rule
    a mixture scheduler applies before downsampling dominant domains.
    Oracle replays the exact integer water-fill."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", TX.token_count("text").alias("n_tokens")
    )
    return DO.budget_allocation(docs, 1, 2)


def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-transition matrix (first-order Markov estimate):
    for every (prev_type, cur_type) pair, the transition count and
    probability — the behavior model session-analysis and
    next-event-prediction features start from.

    Plan shape at scale: ONE keyed window (user, ts, event_id order)
    produces the lagged pairs; counts fold in a map-side-combinable
    groupBy over at most |types|^2 keys; the per-prev normalizer is a
    window over that tiny frame. Probability is fixed-point-rounded
    from exact integer counts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("cur_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("prev_type"))
    prob = F.floor(F.col("n") / tot * 1e6 + F.lit(0.5)) / F.lit(1e6)
    return pairs.select(
        "prev_type", "cur_type", "n", prob.alias("prob")
    ).orderBy("prev_type", "cur_type")


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: adjacent token bigrams ranked by pointwise
    mutual information (min count 5, top 50) — the phrase-mining pass
    vocabulary builders run before tokenizer training.

    Plan shape at scale: one posexplode of lowered tokens feeds BOTH
    the unigram and the (positional) bigram counts; totals are
    aggregates of those count frames (token-domain-bounded, never the
    corpus); PMI's argument assembles as a ratio of exact int64
    products before ONE ln, rounded to 6dp so engines agree. Top-50
    tie-broken lexicographically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("pos", "tok"),
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n_tok = uni.agg(F.sum("c").cast("long").alias("n_tok"))
    nxt = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"),
        F.col("tok").alias("tok_b"),
    )
    big = (
        toks.join(nxt, ["doc_id", "pos"])
        .groupBy(F.col("tok").alias("a"), F.col("tok_b").alias("b"))
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    n_big = (
        toks.groupBy("doc_id")
        .agg((F.count("*") - 1).alias("nb"))
        .agg(F.sum("nb").cast("long").alias("n_big"))
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") * F.col("n_tok") * F.col("n_tok"))
            / (F.col("n_big") * F.col("c_a") * F.col("c_b"))
        ),
        6,
    )
    return (
        big.join(ua, "a")
        .join(ub, "b")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(n_big))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(50)
    )


def q_events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, hour-of-day) exact P50/P95 value bands
    (sketches.exact_quantiles, keys=[type, hr]) — the latency-band
    dashboard shape. Value-domain compression: the only wide pass is
    the (keys, cents)->count groupBy; the rank probe runs on the
    compressed frame. Values fixed-pointed to cents."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("vi"),
    )
    q = SK.exact_quantiles(ev, "vi", [50, 95], keys=["event_type", "hr"])
    return q.select(
        "event_type",
        "hr",
        F.col("pct").cast("int").alias("pct"),
        (F.col("value") / F.lit(100.0)).alias("band"),
        "n",
    ).orderBy("event_type", "hr", "pct")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x event_type count matrix via native pivot. The pivot
    value list is EXPLICIT — without it Spark runs an extra
    collect-distinct job over the fact table to discover the columns,
    a full pre-scan that 100 TB cannot afford (and the output schema
    becomes data-dependent, which breaks downstream contracts). Absent
    cells coalesce to 0 so the matrix is dense."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("hr", F.hour("ts"))
        .groupBy("hr")
        .pivot("event_type", types)
        .count()
        .select(
            F.col("hr").cast("int").alias("hr"),
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                for t in types
            ],
        )
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel signup -> click -> purchase
    (relational.ordered_funnel): one exchange + one sort for all stages,
    stacked RANGE-frame window mins instead of k-1 self-joins."""
    from pathways2go_spark.relational import ordered_funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    return ordered_funnel(
        ev,
        user="user_id",
        ts="ts_us",
        step="event_type",
        steps=["signup", "click", "purchase"],
    )


def q_kg_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram of the KG: subjects per (model, subj) degree
    — the graph-shape profile a 100 TB KG operator watches for hub
    drift. Two stacked aggregations, the second over the first's
    already-partitioned output."""
    tri = _kg(spark)[0]
    deg = tri.groupBy("model_id", "subj").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_subjects"))
        .select(F.col("degree").cast("long"), "n_subjects")
    )


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct (l_orderkey, l_partkey) pairs per return
    flag (sketches.hll_distinct): md5-derived registers, so the whole
    sketch — not just its answer — is replayed bit-exactly by the
    oracle. ~20k true distincts per flag at sf0.01 exercises the raw
    harmonic-mean branch; smaller groups fall into linear counting."""
    from pathways2go_spark.sketches import hll_distinct

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_partkey").cast("string"),
        ).alias("pair"),
    )
    return hll_distinct(li, "pair", keys=["l_returnflag"])


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate census over the self-doubled corpus
    (textops.boilerplate_census): the doubled half makes every chunk a
    cross-document duplicate, and organic repeats inside the original
    half exercise the min_df threshold independently."""
    return TX.boilerplate_census(
        _doubled_docs(spark, sf_dir), min_df=2, window=10
    )


def q_data_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-epoch training order (dataops.epoch_order):
    bucketed md5 permutation, global position from broadcast bucket
    offsets — never a global sort."""
    return DO.epoch_order(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), epochs=2
    )


def q_kg_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering of each model's causal graph
    (reports.dag_levels): level 0 = entry points, level k = longest-path
    layer, -1 = on/behind a feedback cycle. Oracle = the same Kahn peel
    unrolled to 8 rounds in SQL."""
    return RP.dag_levels(_kg(spark)[0], max_levels=8)


def q_kg_snapshot_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot store's version-history metadata view
    (sinks.snapshot_log) over the same deterministic three-way split as
    kg_time_travel: (snapshot_id, parent, n_rows, cum_rows). Oracle =
    the nibble-range census of the golden triples."""
    import shutil

    from pathways2go_spark.sinks import append_snapshot, snapshot_log

    shutil.rmtree(KG_SNAP_STORE, ignore_errors=True)
    tri = _kg(spark)[0]
    nib = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", "model_id", "subj", "pred", "obj")), 1, 1
        ),
        16,
        10,
    ).cast("int")
    t = tri.withColumn("__n", nib)
    append_snapshot(t.filter(F.col("__n") <= 5).drop("__n"),
                    KG_SNAP_STORE, 1)
    append_snapshot(
        t.filter((F.col("__n") > 5) & (F.col("__n") <= 10)).drop("__n"),
        KG_SNAP_STORE, 2, parent=1,
    )
    append_snapshot(t.filter(F.col("__n") > 10).drop("__n"),
                    KG_SNAP_STORE, 3, parent=2)
    # Re-emit the (3-row) log as plan literals: a driver-local relation
    # with nullable ints round-trips to pandas as object/float dtype and
    # breaks cross-engine value comparison; literals + casts keep every
    # column firmly integral (null root parent -> -1)
    rows = sorted(
        (r["snapshot_id"], r["parent"], r["n_rows"], r["cum_rows"])
        for r in snapshot_log(spark, KG_SNAP_STORE).collect()
    )
    parts = ", ".join(
        f"{sid}, {par if par is not None else -1}, {nr}L, {cum}L"
        for sid, par, nr, cum in rows
    )
    return spark.range(1).selectExpr(
        f"stack({len(rows)}, {parts}) AS "
        "(snapshot_id, parent, n_rows, cum_rows)"
    )


def q_kg_term_specificity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-used-term ontology specificity census: every class typed into
    a model, its usage count (distinct typed nodes corpus-wide) and its
    ancestor-set size from the subclass-closure dim — the 'how deep in
    the ontology do annotations sit' quality view (specificity = bigger
    closure = more specific term). Broadcast join against the bounded
    ancestors dim; one groupBy on the term."""
    dims = load_dims(spark, KG_FIXTURE_DIR)
    usage = (
        _kg(spark)[0]
        .filter(F.col("pred") == "type")
        .groupBy(F.col("obj").alias("term"))
        .agg(
            F.count_distinct("model_id", "subj").alias("n_nodes"),
            F.count_distinct("model_id").alias("n_models"),
        )
    )
    anc = dims.onto_ancestors.groupBy(
        F.col("class_iri").alias("term")
    ).agg(F.count("*").alias("n_ancestors"))
    return usage.join(F.broadcast(anc), "term", "left").select(
        "term", "n_nodes", "n_models",
        F.coalesce(F.col("n_ancestors"), F.lit(0)).cast("long")
        .alias("n_ancestors"),
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic every-2nd frame selection over the fixture corpus's
    media table (multimodal.sample_frames): windowed rank per doc — the
    video frame-sampling plumbing, value-exact vs the SQL rank mirror."""
    media = MM.media_table(_docs(spark))
    return MM.sample_frames(media, every_n=2).select(
        "doc_id", "media_ref", "caption", "media_kind",
        F.length("payload").alias("n_bytes"),
    )


def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs (dedup.editdist_pairs) over
    a corpus where each doc gets a tail-mutated twin (' xx' appended,
    distance 3): prefix-hash blocking proposes, exact Levenshtein
    confirms. Spark's levenshtein and DuckDB's agree exactly (both
    classic unit-cost edit distance)."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
    )
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + DOC_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xx")).alias("text"),
        )
    )
    return D.editdist_pairs(corpus, prefix_len=40, max_dist=4)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional excerpt detection (dedup.containment_pairs): each of
    docs 0..24 gets a 20-token-prefix excerpt twin; every excerpt's
    3-gram shingles are a subset of its source's, so C(excerpt ->
    source) = 1.0 while the reverse direction scores low — the
    asymmetry symmetric Jaccard misses. Oracle is the full relational
    mirror (distinct shingles, df cap, intersect count, uncapped
    denominator), so incidental cross-doc matches are covered too."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 25)
    )
    excerpt = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 20), " "
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + DOC_OFFSET).alias("doc_id"),
            excerpt.alias("text"),
        )
    )
    return D.containment_pairs(corpus, n=3, threshold=0.9)


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding quality harness (dedup.lsh_recall): precision/recall of
    the md5-MinHash-LSH candidate set (k=16, bands=4) against
    ground-truth 3-gram Jaccard >= 0.5 pairs. Corpus = docs 0..49 plus
    an 80%-token-prefix twin for each, so true pair similarity hovers
    near j ~ 0.8 where 4-row banding (hit prob 1-(1-j^4)^4 ~ 0.88) is
    genuinely lossy — the recall number is the one a 100 TB user tunes
    (k, bands) by before a full dedup run. Companion of
    sim_ann_recall. Every hash is md5-top-32, so the DuckDB oracle
    replays candidates bit-for-bit (no closed form assumed)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ln = F.greatest(
        F.floor(F.size(toks) * 4 / 5).cast("int"), F.lit(1)
    )
    trunc = F.array_join(F.slice(toks, F.lit(1), ln), " ")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + DOC_OFFSET).alias("doc_id"),
            trunc.alias("text"),
        )
    )
    return D.lsh_recall(corpus, n=3, k=16, bands=4, threshold=0.5)


def q_dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding tuning curve (dedup.lsh_band_sweep): recall/precision at
    bands = 2/4/8 from ONE md5-minhash signature pass over the same
    80%-prefix-twin corpus as dedup_lsh_recall. Monotone in bands
    (fewer rows per band -> higher collision odds): the whole
    trade-off a 100 TB user picks the operating point from."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ln = F.greatest(
        F.floor(F.size(toks) * 4 / 5).cast("int"), F.lit(1)
    )
    trunc = F.array_join(F.slice(toks, F.lit(1), ln), " ")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + DOC_OFFSET).alias("doc_id"),
            trunc.alias("text"),
        )
    )
    return D.lsh_band_sweep(
        corpus, n=3, k=16, bands_list=(2, 4, 8), threshold=0.5
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against the materialized bucketed MinHash
    signature store (dedup.write_minhash_index + dedup_against_index):
    corpus = docs 0..49 signed and bucketed once; batch = exact twins
    of docs 0..24 (offset ids) plus genuinely-new docs 50..74. Twins
    share every minhash, so every band collides and the signature
    agreement is 32/32 — est_jaccard exactly 1.0; the fresh docs find
    no 0.99-agreement match. Oracle is the closed-form twin map."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 50)
    idx_path = (
        f"/tmp/p2g_mh_idx/{os.path.basename(os.path.normpath(sf_dir))}"
    )
    D.write_minhash_index(
        spark, corpus, idx_path, "p2g_minhash_store", n=3, k=32, bands=8
    )
    batch = corpus.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + DOC_OFFSET).alias("doc_id"), "text"
    ).unionByName(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 75))
    )
    return D.dedup_against_index(
        spark, batch, "p2g_minhash_store", n=3, k=32, bands=8,
        threshold=0.99,
    )


def q_kg_term_semsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure-Jaccard semantic similarity for co-annotated term pairs
    (reports.term_semsim): the corpus contributes one distinct
    (model_id, term) shuffle; the pair/closure math is ontology-bounded
    and broadcast. Fixed-point jaccard, bit-identical to the oracle."""
    dims = load_dims(spark, KG_FIXTURE_DIR)
    return RP.term_semsim(_kg(spark)[0], dims.onto_ancestors, min_support=2)


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events stream
    (relational.cohort_retention): first-active-day cohorts x day
    offset, distinct-user counts."""
    from pathways2go_spark.relational import cohort_retention

    return cohort_retention(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG sliding-window chunking (textops.chunk_documents, size=120
    stride=80): shuffle-free posexplode + substring, one md5-top-32
    fingerprint per chunk so the oracle compares content, not just
    counts."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ch = TX.chunk_documents(docs, "text", size=120, stride=80)
    return ch.select(
        "doc_id",
        F.col("chunk_ix").cast("int").alias("chunk_ix"),
        F.length("chunk").cast("int").alias("n_chars"),
        F.conv(F.substring(F.md5("chunk"), 1, 8), 16, 10)
        .cast("long")
        .alias("chunk_hash"),
    )


def q_tpch_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue: top 20 customers by
    revenue lost to returns in one quarter.

    Plan shape at scale: lineitem is filtered on l_returnflag at the
    scan; the fact-fact join keys on l_orderkey (lineitem's natural
    key), THEN aggregates to custkey before the (much smaller) customer
    dim join; nation broadcasts. Revenue is fixed-pointed per
    row and summed as int64 (order-independent exact sum), divided once
    at the end. Ties broken on c_custkey so LIMIT 20 is deterministic."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4 + 0.5
    ).cast("long")
    l = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", rev_i.alias("rev_i"))
    )
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_i").alias("rev_sum"))
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_sum") / F.lit(1e4)).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of each model's undirected structural graph
    (reports.kcore, every pred but 'type'): iterative degree peel,
    bounded rounds; oracle = the peel unrolled in SQL."""
    return RP.kcore(_kg(spark)[0], k=2, max_rounds=8)


def q_kg_term_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-model term co-annotation pairs (reports.term_cooccurrence),
    min_support=2: the 'terms that travel together' census."""
    return RP.term_cooccurrence(_kg(spark)[0], min_support=2)


def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of the orders table
    (relational.profile_columns): exact NDV + null census + min/max per
    column from a single Aggregate node."""
    from pathways2go_spark.relational import profile_columns

    return profile_columns(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), _PROFILE_COLS
    )


_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
    "o_orderpriority",
]


KG_SNAP_STORE = os.path.join(REPO_DIR, ".kg_snap_store")


def q_kg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style snapshot log + time travel over the triple store
    (sinks.append_snapshot / read_as_of): the KG triples split into
    three deterministic appends by the first md5 nibble of the row
    (0-5 / 6-a / b-f -> snapshots 1..3), then the table is read AS OF
    snapshot 2 — the union of snapshots 1+2 resolved through the
    manifest chain into one multi-path scan — and aggregated per pred.
    The store is rebuilt from scratch on every call (idempotent appends,
    crash-safe manifest-last commit), so it can never go stale against
    a regenerated fixture."""
    import shutil

    from pathways2go_spark.sinks import append_snapshot, read_as_of

    shutil.rmtree(KG_SNAP_STORE, ignore_errors=True)
    tri = _kg(spark)[0]
    nib = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", "model_id", "subj", "pred", "obj")), 1, 1
        ),
        16,
        10,
    ).cast("int")
    t = tri.withColumn("__n", nib)
    append_snapshot(t.filter(F.col("__n") <= 5).drop("__n"),
                    KG_SNAP_STORE, 1)
    append_snapshot(
        t.filter((F.col("__n") > 5) & (F.col("__n") <= 10)).drop("__n"),
        KG_SNAP_STORE, 2, parent=1,
    )
    append_snapshot(t.filter(F.col("__n") > 10).drop("__n"),
                    KG_SNAP_STORE, 3, parent=2)
    return (
        read_as_of(spark, KG_SNAP_STORE, 2)
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"),
             F.count_distinct("model_id").alias("n_models"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples": q_kg_triples,
        "kg_audit": q_kg_audit,
        "kg_merge": q_kg_merge,
        "kg_entity_ontology": q_kg_entity_ontology,
        "kg_gpad": q_kg_gpad,
        "kg_ttl": q_kg_ttl,
        "kg_gpad_diff": q_kg_gpad_diff,
        "kg_biopax": q_kg_biopax,
        "kg_biopax_ingest": q_kg_biopax_ingest,
        "kg_obo_dims": q_kg_obo_dims,
        "kg_validation": q_kg_validation,
        "kg_shex": q_kg_shex,
        "kg_unclassified": q_kg_unclassified,
        "kg_span_kind_counts": q_kg_span_kind_counts,
        "kg_span_invariant": q_kg_span_invariant,
        "kg_relation_counts": q_kg_relation_counts,
        "kg_corpus_summary": q_kg_corpus_summary,
        "kg_layout": q_kg_layout,
        "kg_bp_nodes": q_kg_bp_nodes,
        "kg_mf_nodes": q_kg_mf_nodes,
        "kg_component_locations": q_kg_component_locations,
        "kg_untyped_reactions": q_kg_untyped_reactions,
        "kg_xref_map": q_kg_xref_map,
        "kg_canonical_entities": q_kg_canonical_entities,
        "kg_motif_census": q_kg_motif_census,
        "kg_model_report": q_kg_model_report,
        "kg_entity_mapping": q_kg_entity_mapping,
        "kg_reaction_venn": q_kg_reaction_venn,
        "kg_reaction_completeness": q_kg_reaction_completeness,
        "kg_causal_formats": q_kg_causal_formats,
        "kg_causal_paths": q_kg_causal_paths,
        "kg_triangles": q_kg_triangles,
        "kg_node_clustering": q_kg_node_clustering,
        "kg_neighbor_jaccard": q_kg_neighbor_jaccard,
        "kg_resource_alloc": q_kg_resource_alloc,
        "kg_components": q_kg_components,
        "kg_pagerank": q_kg_pagerank,
        "kg_chebi_usage": q_kg_chebi_usage,
        "kg_deprecated_terms": q_kg_deprecated_terms,
        "data_shards": q_data_shards,
        "data_sample": q_data_sample,
        "data_mixture": q_data_mixture,
        "data_drift": q_data_drift,
        "data_curriculum": q_data_curriculum,
        "events_sliding": q_events_sliding,
        "events_resample": q_events_resample,
        "events_debounce": q_events_debounce,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_corpus": q_dedup_corpus,
        "dedup_quality": q_dedup_quality,
        "dedup_embedding": q_dedup_embedding,
        "dedup_semantic": q_dedup_semantic,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_pii": q_text_pii,
        "text_classifier": q_text_classifier,
        "dedup_paragraph": q_dedup_paragraph,
        "data_decontaminate": q_data_decontaminate,
        "data_pack": q_data_pack,
        "data_funnel": q_data_funnel,
        "text_repetition": q_text_repetition,
        "text_lm": q_text_lm,
        "data_dsir": q_data_dsir,
        "text_fingerprint": q_text_fingerprint,
        "text_token_stats": q_text_token_stats,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_knn_join": q_sim_knn_join,
        "sim_ann_lsh_topk": q_sim_ann_lsh_topk,
        "sim_ann_lsh_indexed": q_sim_ann_lsh_indexed,
        "sim_ann_ivf_topk": q_sim_ann_ivf_topk,
        "sim_ann_ivf_trained": q_sim_ann_ivf_trained,
        "sim_ann_recall": q_sim_ann_recall,
        "sim_ann_ivfpq_topk": q_sim_ann_ivfpq_topk,
        "media_kind_stats": q_media_kind_stats,
        "media_feature_bytes": q_media_feature_bytes,
        "events_hourly": q_events_hourly,
        "events_cube": q_events_cube,
        "events_sessions": q_events_sessions,
        "events_asof": q_events_asof,
        "events_range": q_events_range,
        "events_rollup": q_events_rollup,
        "events_scd2": q_events_scd2,
        "events_agg_incremental": q_events_agg_incremental,
        "join_salted": q_join_salted,
        "join_bloom_prune": q_join_bloom_prune,
        "doc_length_pcts": q_doc_length_pcts,
        "data_domain_cap": q_data_domain_cap,
        "text_bm25": q_text_bm25,
        "search_hybrid": q_search_hybrid,
        "text_inverted_index": q_text_inverted_index,
        "text_tfidf": q_text_tfidf,
        "events_zorder": q_events_zorder,
        "sketch_kmv": q_sketch_kmv,
        "sketch_cms": q_sketch_cms,
        "sketch_quantiles": q_sketch_quantiles,
        "sketch_kmv_setops": q_sketch_kmv_setops,
        "data_weighted_sample": q_data_weighted_sample,
        "events_coverage": q_events_coverage,
        "tpch_pricing": q_tpch_pricing,
        "tpch_shipping_priority": q_tpch_shipping_priority,
        "events_pivot": q_events_pivot,
        "events_funnel": q_events_funnel,
        "kg_degree_hist": q_kg_degree_hist,
        "top_orders_per_cust": q_top_orders_per_cust,
        "nation_order_stats": q_nation_order_stats,
        "sketch_hll": q_sketch_hll,
        "text_boilerplate": q_text_boilerplate,
        "data_epoch": q_data_epoch,
        "kg_time_travel": q_kg_time_travel,
        "kg_dag_levels": q_kg_dag_levels,
        "data_profile": q_data_profile,
        "kg_kcore": q_kg_kcore,
        "kg_term_cooccur": q_kg_term_cooccur,
        "tpch_local_supplier": q_tpch_local_supplier,
        "kg_snapshot_log": q_kg_snapshot_log,
        "kg_term_specificity": q_kg_term_specificity,
        "media_frame_sample": q_media_frame_sample,
        "dedup_editdist": q_dedup_editdist,
        "dedup_incremental": q_dedup_incremental,
        "dedup_containment": q_dedup_containment,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "dedup_band_sweep": q_dedup_band_sweep,
        "kg_term_semsim": q_kg_term_semsim,
        "events_retention": q_events_retention,
        "text_chunks": q_text_chunks,
        "tpch_returned_revenue": q_tpch_returned_revenue,
        "tpch_order_priority": q_tpch_order_priority,
        "tpch_promo_revenue": q_tpch_promo_revenue,
        "tpch_forecast_revenue": q_tpch_forecast_revenue,
        "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
        "tpch_large_orders": q_tpch_large_orders,
        "tpch_order_count_dist": q_tpch_order_count_dist,
        "tpch_late_lines": q_tpch_late_lines,
        "tpch_volume_shipping": q_tpch_volume_shipping,
        "tpch_top_supplier": q_tpch_top_supplier,
        "tpch_disjunctive_revenue": q_tpch_disjunctive_revenue,
        "tpch_dormant_customers": q_tpch_dormant_customers,
        "tpch_market_share": q_tpch_market_share,
        "tpch_profit": q_tpch_profit,
        "events_anomaly": q_events_anomaly,
        "tpch_min_cost_supplier": q_tpch_min_cost_supplier,
        "tpch_important_parts": q_tpch_important_parts,
        "tpch_supplier_cnt": q_tpch_supplier_cnt,
        "tpch_waiting_orders": q_tpch_waiting_orders,
        "tpch_dominant_supplier": q_tpch_dominant_supplier,
        "sim_centroid_outliers": q_sim_centroid_outliers,
        "events_winsorize": q_events_winsorize,
        "text_novelty": q_text_novelty,
        "data_budget_alloc": q_data_budget_alloc,
        "events_markov": q_events_markov,
        "text_collocations": q_text_collocations,
        "events_value_bands": q_events_value_bands,
        "media_dedup": q_media_dedup,
        "stream_hll": q_stream_hll,
        "sim_dim_truncation": q_sim_dim_truncation,
        "data_skew_probe": q_data_skew_probe,
        "events_cdc": q_events_cdc,
        "join_fanout_probe": q_join_fanout_probe,
        "events_top_paths": q_events_top_paths,
    }


# ----------------------------------------------------------------------
# DuckDB oracles
# ----------------------------------------------------------------------

_EDGE_IN = ", ".join(f"'{p}'" for p in V.EDGE_PREDS)

_CORPUS_CTE = f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DOC_OFFSET} AS doc_id, text FROM documents
)"""

_CORPUS50_CTE = f"""corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + {DOC_OFFSET} AS doc_id, text FROM documents WHERE doc_id < 50
)"""

_SHINGLE_CTE = """toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM corpus
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM toks
)"""

_STOPWORD_LIST = "[" + ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS) + "]"

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_TOKS_RAW = "string_split_regex(trim(text), '\\s+')"
_SW_HITS = f"len(list_filter({_TOKS}, x -> list_contains({_STOPWORD_LIST}, x)))"
_SW_RATIO = f"CAST({_SW_HITS} AS DOUBLE) / greatest(len({_TOKS}), 1)"

_DOT = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)

_COSINE = (
    _DOT.format(a="e.embedding", b="q.qe")
    + " / (sqrt(" + _DOT.format(a="e.embedding", b="e.embedding") + ")"
    + " * sqrt(" + _DOT.format(a="q.qe", b="q.qe") + "))"
)

# Sign-LSH bucket in SQL: signs of dot products with the SAME seeded
# random-hyperplane matrix the Spark side uses (similarity.random_hyperplanes
# — plane values embedded as literals, exact round-trip via repr). Raw-dim
# signs would collapse non-centered embeddings into one bucket.
EMB_DIM = 64  # embeddings.parquet vector width (all testdata scale factors)
LSH_PLANES = 8
_HP = SIM.random_hyperplanes(LSH_PLANES, EMB_DIM)


def _BKT(col: str) -> str:
    terms = []
    for i in range(LSH_PLANES):
        lits = ", ".join(repr(v) for v in _HP[i])
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), [{lits}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)

def _kmeans_cos(e: str, c: str) -> str:
    """Quantized cosine (round 6) — the cross-engine assignment contract
    shared by similarity.ivf_assign(round_to=6) and every k-means SQL
    mirror below."""
    return (
        f"round(list_dot_product({e}, {c}) / "
        f"(sqrt(list_dot_product({e}, {e})) * "
        f"sqrt(list_dot_product({c}, {c}))), 6)"
    )


def _kmeans_train_ctes(k: int, iters: int) -> tuple[str, str]:
    """Unrolled Lloyd k-means CTE chain (matching similarity.kmeans_fit
    with exact_mean=True): init = first k vec_ids, assignment = quantized
    argmax (round 6, ties -> lowest cell), means = sequential folds over
    values sorted ascending (list_sum over list(val ORDER BY val) ==
    F.aggregate over sort_array — verified bit-equal folds); centroids
    round to 6 decimals per iteration. Returns (cte_body, final_cte)."""
    cos = _kmeans_cos
    ev = "CAST(e.embedding AS DOUBLE[])"
    ctes = [
        f"c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce "
        f"FROM embeddings WHERE vec_id < {k})"
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        ctes.append(f"""a{it} AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos(ev, "c.ce")} DESC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN {prev} c
          ) WHERE rn = 1
        )""")
        ctes.append(f"""m{it} AS (
          SELECT cell, pos,
                 round(list_sum(list(val ORDER BY val)) / count(*), 6) AS m
          FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM a{it})
          GROUP BY cell, pos
        )""")
        ctes.append(f"""c{it} AS (
          SELECT p.cid, coalesce(n.ce, p.ce) AS ce
          FROM {prev} p
          LEFT JOIN (SELECT cell AS cid, list(m ORDER BY pos) AS ce
                     FROM m{it} GROUP BY cell) n USING (cid)
        )""")
    return ",\n        ".join(ctes), f"c{iters}"


def _kmeans_ivf_sql(k: int = 8, iters: int = 2, probe: int = 4) -> str:
    """Unrolled Lloyd k-means + IVF probe/top-k, as one DuckDB query
    (training chain: _kmeans_train_ctes)."""
    cos = _kmeans_cos
    ev = "CAST(e.embedding AS DOUBLE[])"
    body, fin = _kmeans_train_ctes(k, iters)
    return f"""
        WITH {body},
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
              WHERE vec_id = 0),
        probe AS (
          SELECT cid AS cell FROM (
            SELECT c.cid, {cos("c.ce", "q.qe")} AS qsim
            FROM {fin} c CROSS JOIN q
            ORDER BY qsim DESC, cid ASC LIMIT {probe}
          )
        ),
        assigned AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos(ev, "c.ce")} DESC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN {fin} c
          ) WHERE rn = 1
        )
        SELECT e.vec_id, {cos(ev, "q.qe")} AS cosine
        FROM assigned e JOIN probe p ON e.cell = p.cell, q
        ORDER BY cosine DESC, vec_id LIMIT 10
    """


def _semantic_dedup_sql(k: int = 8, iters: int = 2,
                        threshold: float = 0.92) -> str:
    """SemDeDup mirror: the same unrolled k-means training chain, final
    assignment, then a cluster-LOCAL pairwise cosine join — a document is
    dropped iff an earlier (lower vec_id) same-cell document has
    round(cosine, 6) >= threshold, exactly dedup.semantic_dedup."""
    cos = _kmeans_cos
    ev = "CAST(e.embedding AS DOUBLE[])"
    body, fin = _kmeans_train_ctes(k, iters)
    pair_cos = _kmeans_cos("CAST(a.embedding AS DOUBLE[])",
                           "CAST(b.embedding AS DOUBLE[])")
    return f"""
        WITH {body},
        assigned AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos(ev, "c.ce")} DESC,
                                               c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN {fin} c
          ) WHERE rn = 1
        ),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a
          JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {pair_cos} >= {threshold}
        )
        SELECT s.vec_id, s.cell, d.vec_id IS NULL AS kept
        FROM assigned s LEFT JOIN dropped d USING (vec_id)
    """


# SimHash in SQL: same md5-bit-slice token hashes the Spark side uses
# (dedup.simhash, bits=64), so the signature reproduces bit-exactly.
# Bits 0-31 come from md5 chars 1-8 (th), bits 32-63 from chars 9-16
# (th_hi). The two 32-bit halves are assembled into one signed BIGINT
# with explicit two's-complement arithmetic (hi >= 2^31 wraps negative),
# matching Spark's shiftleft/bitwiseOR wrap semantics.
_SIMHASH_BITS = ",\n         ".join(
    f"sum(CASE WHEN ({'th' if i < 32 else 'th_hi'} >> {i % 32}) & 1 = 1"
    f" THEN 1 ELSE -1 END) AS b{i}"
    for i in range(64)
)
_SIMHASH_LO = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
)
_SIMHASH_HI = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << (i - 32)} ELSE 0 END)" for i in range(32, 64)
)


def oracle_sql() -> dict[str, str]:
    from pathways2go_spark.relational import zorder_key_sql

    # Morton-key SQL mirror of relational.zorder_key (events_zorder)
    _ZORDER_SQL = zorder_key_sql("x", "y", bits=10)
    fx = _fx()

    def _pagerank_sql(tri_path: str, causal_in: str, iters: int) -> str:
        """Unrolled mirror of reports.causal_pagerank: iteration k's
        CTEs repeat the exact rounded float steps (round6 contrib ->
        sort-fold sum -> round6 blend), so the oracle is bit-identical
        rather than merely close."""
        ctes = [
            f"""edges AS (
              SELECT model_id, subj AS src, obj AS dst FROM '{tri_path}'
              WHERE pred IN ('{causal_in}') GROUP BY 1, 2, 3
            )""",
            """nodes AS (
              SELECT model_id, src AS node FROM edges
              UNION
              SELECT model_id, dst FROM edges
            )""",
            """nn AS (
              SELECT model_id, count(*) AS n FROM nodes GROUP BY 1
            )""",
            """outdeg AS (
              SELECT model_id, src, count(*) AS od FROM edges
              GROUP BY 1, 2
            )""",
            """r0 AS (
              SELECT nodes.model_id, nodes.node, nn.n,
                     round(1.0 / nn.n, 6) AS pr
              FROM nodes JOIN nn USING (model_id)
            )""",
        ]
        for k in range(1, iters + 1):
            p = k - 1
            ctes.append(f"""c{k} AS (
              SELECT e.model_id, e.dst, round(r.pr / o.od, 6) AS c
              FROM edges e
              JOIN r{p} r ON e.model_id = r.model_id AND e.src = r.node
              JOIN outdeg o ON e.model_id = o.model_id AND e.src = o.src
            )""")
            ctes.append(f"""a{k} AS (
              SELECT model_id, dst,
                     round(list_reduce(list_sort(list(c)),
                                       (x, y) -> x + y), 6) AS s
              FROM c{k} GROUP BY 1, 2
            )""")
            ctes.append(f"""r{k} AS (
              SELECT r.model_id, r.node, r.n,
                     round(round(0.15 / r.n, 6)
                           + 0.85 * coalesce(a.s, 0.0), 6) AS pr
              FROM r{p} r
              LEFT JOIN a{k} a
                ON r.model_id = a.model_id AND r.node = a.dst
            )""")
        return (
            "WITH " + ",\n".join(ctes)
            + f"\nSELECT model_id, node, pr, CAST(n AS BIGINT) AS n_nodes"
              f" FROM r{iters}"
        )
    tri = fx["expected_triples"]
    anc = fx["onto_ancestors"]
    aud = fx["expected_audit"]
    docs = fx["documents"]

    # ---- shared CTEs for the K3/G8 report oracles (reports.py) -------
    rp_roots = "', '".join([V.BP_ROOT, V.MF_ROOT, V.CC_ROOT, V.COMPLEX_GO,
                            V.MOLECULAR_EVENT])
    rp_rules = "', '".join(RP.RULE_ASSIGNED_CLASSES)
    rp_causal = "', '".join(RP.CAUSAL_FAMILY)
    rp_edges = "', '".join(V.EDGE_PREDS)
    ty_cte = (
        f"ty AS (SELECT model_id, subj AS node, obj AS cls FROM '{tri}' "
        "WHERE pred = 'type')"
    )
    em_cte = f"""{ty_cte},
        memb AS (
          SELECT class_iri AS cls,
                 CASE ancestor_iri WHEN '{V.BP_ROOT}' THEN 0
                      WHEN '{V.MF_ROOT}' THEN 1 ELSE 2 END AS rk
          FROM '{anc}'
          WHERE ancestor_iri IN ('{V.BP_ROOT}', '{V.MF_ROOT}',
                                 '{V.COMPLEX_GO}')
        ),
        kinds AS (
          SELECT model_id, node,
                 CASE min(rk) WHEN 0 THEN 'pathway' WHEN 1 THEN 'function'
                      ELSE 'complex' END AS kind
          FROM ty JOIN memb USING (cls) GROUP BY 1, 2
        ),
        nonroot AS (SELECT * FROM ty WHERE cls NOT IN ('{rp_roots}')),
        asserted AS (
          SELECT model_id, node, cls,
                 CASE WHEN cls IN ('{rp_rules}') THEN 'rule'
                      ELSE 'curated' END AS bucket
          FROM nonroot
        ),
        inferred AS (
          SELECT DISTINCT n.model_id, n.node, a.ancestor_iri AS cls,
                          'inferred' AS bucket
          FROM nonroot n JOIN '{anc}' a ON n.cls = a.class_iri
          WHERE a.ancestor_iri <> a.class_iri
            AND a.ancestor_iri NOT IN ('{rp_roots}')
            AND NOT EXISTS (SELECT 1 FROM ty t2
                            WHERE t2.model_id = n.model_id
                              AND t2.node = n.node
                              AND t2.cls = a.ancestor_iri)
        ),
        buckets AS (SELECT * FROM asserted UNION ALL SELECT * FROM inferred),
        em AS (
          SELECT k.model_id, k.node, k.kind,
                 coalesce(a.curated_types, '') AS curated_types,
                 coalesce(a.rule_types, '') AS rule_types,
                 coalesce(a.inferred_types, '') AS inferred_types
          FROM kinds k LEFT JOIN (
            SELECT model_id, node,
              string_agg(cls, ',' ORDER BY cls)
                FILTER (WHERE bucket = 'curated') AS curated_types,
              string_agg(cls, ',' ORDER BY cls)
                FILTER (WHERE bucket = 'rule') AS rule_types,
              string_agg(cls, ',' ORDER BY cls)
                FILTER (WHERE bucket = 'inferred') AS inferred_types
            FROM buckets GROUP BY 1, 2
          ) a USING (model_id, node)
        )"""
    venn_cte = f"""{ty_cte},
        mfcl AS (SELECT class_iri AS cls FROM '{anc}'
                 WHERE ancestor_iri = '{V.MF_ROOT}'),
        rx AS (
          SELECT model_id, reaction, is_mf, is_me FROM (
            SELECT t.model_id, t.node AS reaction,
                   max(CASE WHEN m.cls IS NOT NULL THEN 1 ELSE 0 END) AS is_mf,
                   max(CASE WHEN t.cls = '{V.MOLECULAR_EVENT}' THEN 1
                       ELSE 0 END) AS is_me
            FROM ty t LEFT JOIN mfcl m ON t.cls = m.cls
            WHERE t.node NOT LIKE '%~%'
            GROUP BY 1, 2
          ) WHERE is_mf = 1 OR is_me = 1
        ),
        fn AS (SELECT DISTINCT t.model_id, t.node AS reaction
               FROM ty t JOIN mfcl m ON t.cls = m.cls
               WHERE t.cls <> '{V.MF_ROOT}'),
        en AS (SELECT DISTINCT model_id, subj AS reaction FROM '{tri}'
               WHERE pred = '{V.ENABLED_BY}'),
        lo AS (SELECT DISTINCT model_id, subj AS reaction FROM '{tri}'
               WHERE pred = '{V.OCCURS_IN}'),
        cz AS (
          SELECT DISTINCT u.model_id, u.reaction FROM (
            SELECT model_id, subj AS reaction, obj AS other FROM '{tri}'
            WHERE pred = '{V.CAUSALLY_UPSTREAM}'
            UNION ALL
            SELECT model_id, obj AS reaction, subj AS other FROM '{tri}'
            WHERE pred = '{V.CAUSALLY_UPSTREAM}'
          ) u JOIN rx r ON u.model_id = r.model_id AND u.other = r.reaction
        ),
        bppw AS (SELECT DISTINCT t.model_id, t.node AS pathway
                 FROM ty t JOIN '{anc}' a ON t.cls = a.class_iri
                 WHERE a.ancestor_iri = '{V.BP_ROOT}'
                   AND t.cls <> '{V.BP_ROOT}'),
        hb AS (SELECT DISTINCT p.model_id, p.subj AS reaction
               FROM '{tri}' p JOIN bppw w ON p.model_id = w.model_id
                 AND p.obj = w.pathway
               WHERE p.pred = '{V.PART_OF}'),
        io AS (
          SELECT model_id, subj AS reaction,
                 count(DISTINCT CASE WHEN pred = '{V.HAS_INPUT}'
                                THEN obj END) AS n_in,
                 count(DISTINCT CASE WHEN pred = '{V.HAS_OUTPUT}'
                                THEN obj END) AS n_out
          FROM '{tri}' WHERE pred IN ('{V.HAS_INPUT}', '{V.HAS_OUTPUT}')
          GROUP BY 1, 2
        ),
        venn AS (
          SELECT r.model_id, r.reaction, r.is_mf, r.is_me,
            CASE WHEN fn.reaction IS NOT NULL THEN 1 ELSE 0 END
              AS has_function,
            CASE WHEN en.reaction IS NOT NULL THEN 1 ELSE 0 END
              AS has_enabler,
            CASE WHEN lo.reaction IS NOT NULL THEN 1 ELSE 0 END
              AS has_location,
            CASE WHEN cz.reaction IS NOT NULL THEN 1 ELSE 0 END
              AS has_causal,
            CASE WHEN hb.reaction IS NOT NULL THEN 1 ELSE 0 END AS has_bp,
            CASE WHEN coalesce(io.n_in, 0) > coalesce(io.n_out, 0)
                 THEN 1 ELSE 0 END AS is_binding,
            CASE WHEN coalesce(io.n_in, 0) < coalesce(io.n_out, 0)
                 THEN 1 ELSE 0 END AS is_dissociation
          FROM rx r
          LEFT JOIN fn ON r.model_id = fn.model_id
            AND r.reaction = fn.reaction
          LEFT JOIN en ON r.model_id = en.model_id
            AND r.reaction = en.reaction
          LEFT JOIN lo ON r.model_id = lo.model_id
            AND r.reaction = lo.reaction
          LEFT JOIN cz ON r.model_id = cz.model_id
            AND r.reaction = cz.reaction
          LEFT JOIN hb ON r.model_id = hb.model_id
            AND r.reaction = hb.reaction
          LEFT JOIN io ON r.model_id = io.model_id
            AND r.reaction = io.reaction
        )"""

    accm = fx["accession_map"]
    xr = fx["onto_xrefs"]
    dr = fx["drug_ids"]
    # independent re-derivation of the E1-E12 axiom table from the raw
    # documents (k=v span payloads parsed in SQL) + dimension parquet
    eo_sql = f"""
        WITH sp AS (
          SELECT doc_id, unnest(spans) AS s FROM '{docs}'
        ), el AS (
          SELECT doc_id, s.kind AS kind,
            nullif(regexp_extract(';'||s.text||';', ';id=([^;]*);', 1), '') AS elem_id,
            nullif(regexp_extract(';'||s.text||';', ';uniprot=([^;]*);', 1), '') AS uniprot,
            nullif(regexp_extract(';'||s.text||';', ';accession=([^;]*);', 1), '') AS accession,
            nullif(regexp_extract(';'||s.text||';', ';chebi=([^;]*);', 1), '') AS chebi,
            nullif(regexp_extract(';'||s.text||';', ';ensembl=([^;]*);', 1), '') AS ensembl,
            nullif(regexp_extract(';'||s.text||';', ';location=([^;]*);', 1), '') AS location,
            nullif(regexp_extract(';'||s.text||';', ';features=([^;]*);', 1), '') AS features,
            nullif(regexp_extract(';'||s.text||';', ';chebiRole=([^;]*);', 1), '') AS chebi_role,
            nullif(regexp_extract(';'||s.text||';', ';taxon=([^;]*);', 1), '') AS taxon,
            nullif(regexp_extract(';'||s.text||';', ';drugXref=([^;]*);', 1), '') AS drug_xref,
            nullif(regexp_extract(';'||s.text||';', ';components=([^;]*);', 1), '') AS components,
            nullif(regexp_extract(';'||s.text||';', ';members=([^;]*);', 1), '') AS members
          FROM sp
          WHERE s.kind IN ('protein','small_molecule','complex','entity_set','dna','rna')
        ), ent AS (
          SELECT el.*, lx.class_iri AS loc_gocc,
            CASE kind
              WHEN 'protein' THEN coalesce('UniProtKB_'||uniprot, gpi.target_iri, 'CHEBI_36080')
              WHEN 'small_molecule' THEN coalesce(chebi, 'CHEBI_24431')
              WHEN 'dna' THEN coalesce('ENSEMBL_'||ensembl, 'UniProtKB_'||uniprot, 'CHEBI_16991')
              WHEN 'rna' THEN coalesce('ENSEMBL_'||ensembl, 'UniProtKB_'||uniprot, 'CHEBI_33697')
              ELSE 'REACTO_'||elem_id END AS cls,
            CASE kind
              WHEN 'protein' THEN uniprot
              WHEN 'small_molecule' THEN chebi
              WHEN 'dna' THEN coalesce(ensembl, uniprot)
              WHEN 'rna' THEN coalesce(ensembl, uniprot)
              ELSE NULL END AS canonical,
            CASE kind
              WHEN 'protein' THEN 'CHEBI_36080'
              WHEN 'small_molecule' THEN 'CHEBI_24431'
              WHEN 'complex' THEN 'GO_0032991'
              WHEN 'dna' THEN 'CHEBI_16991'
              WHEN 'rna' THEN 'CHEBI_33697'
              ELSE NULL END AS kind_root
          FROM el
          LEFT JOIN (SELECT acc, target_iri FROM '{accm}' WHERE source='gpi') gpi
            ON el.accession = gpi.acc
          LEFT JOIN (SELECT xref, class_iri FROM '{xr}' WHERE xref LIKE 'LOC:%') lx
            ON 'LOC:'||el.location = lx.xref
        ), comp AS (
          SELECT doc_id, cls AS src_cls,
                 split_part(item, ':', 1) AS child_id,
                 coalesce(nullif(split_part(item, ':', 2), ''), '1') AS stoich
          FROM (SELECT doc_id, cls,
                       unnest(str_split(components, ',')) AS item
                FROM ent WHERE kind = 'complex' AND components IS NOT NULL)
          WHERE item <> ''
        ), mem AS (
          SELECT doc_id, cls AS set_cls, owner_id, child_id FROM
          (SELECT doc_id, cls, elem_id AS owner_id,
                  unnest(str_split(members, ',')) AS child_id
           FROM ent WHERE kind = 'entity_set' AND members IS NOT NULL)
          WHERE child_id <> ''
        ), mem_cls AS (
          SELECT m.doc_id, m.set_cls, m.owner_id, c.cls AS mcls
          FROM mem m JOIN ent c ON m.doc_id = c.doc_id AND m.child_id = c.elem_id
        ), elected AS (
          SELECT doc_id, owner_id,
            CASE min(rank)
              WHEN 1 THEN 'CHEBI_16991' WHEN 2 THEN 'CHEBI_33697'
              WHEN 3 THEN 'CHEBI_36080' WHEN 4 THEN 'CHEBI_33695'
              WHEN 5 THEN 'GO_0032991' WHEN 6 THEN 'CHEBI_24431' END AS elected
          FROM (
            SELECT mc.doc_id, mc.owner_id,
              CASE a.ancestor_iri
                WHEN 'CHEBI_16991' THEN 1 WHEN 'CHEBI_33697' THEN 2
                WHEN 'CHEBI_36080' THEN 3 WHEN 'CHEBI_33695' THEN 4
                WHEN 'GO_0032991' THEN 5 WHEN 'CHEBI_24431' THEN 6 END AS rank
            FROM mem_cls mc JOIN '{anc}' a ON mc.mcls = a.class_iri
            WHERE a.ancestor_iri IN ('CHEBI_16991','CHEBI_33697','CHEBI_36080',
                                     'CHEBI_33695','GO_0032991','CHEBI_24431')
          ) GROUP BY doc_id, owner_id
        ), feat AS (
          SELECT cls, str_split(f, ':') AS p FROM
          (SELECT cls, unnest(str_split(features, ',')) AS f
           FROM ent WHERE features IS NOT NULL)
        ), drug_direct AS (
          SELECT DISTINCT e.doc_id, e.elem_id, e.cls,
                 regexp_replace(coalesce(e.drug_xref, d.iuphar_id),
                                '^IUPHAR:', '') AS iu
          FROM ent e
          LEFT JOIN '{dr}' d ON e.elem_id = d.entity_id
          WHERE e.drug_xref IS NOT NULL OR d.iuphar_id IS NOT NULL
        ), containers AS (
          SELECT c.doc_id, e.elem_id AS parent, c.child_id AS child
          FROM comp c JOIN ent e ON c.doc_id = e.doc_id AND c.src_cls = e.cls
          UNION
          SELECT doc_id, owner_id AS parent, child_id AS child FROM mem
        ), drug_up AS (
          WITH RECURSIVE up(doc_id, elem_id) AS (
            SELECT doc_id, elem_id FROM drug_direct
            UNION
            SELECT c.doc_id, c.parent
            FROM containers c JOIN up ON c.doc_id = up.doc_id
                                     AND c.child = up.elem_id
          ) SELECT * FROM up
        ), drug_inherited AS (
          SELECT u.doc_id, e.cls
          FROM drug_up u
          JOIN ent e ON u.doc_id = e.doc_id AND u.elem_id = e.elem_id
          WHERE NOT EXISTS (SELECT 1 FROM drug_direct d
                            WHERE d.doc_id = u.doc_id AND d.elem_id = u.elem_id)
        )
        SELECT DISTINCT class_id, axiom, value, qual FROM (
          SELECT cls AS class_id, 'subclass_of' AS axiom, kind_root AS value,
                 '' AS qual
          FROM ent WHERE kind <> 'entity_set' AND cls <> kind_root
          UNION ALL
          SELECT cls, 'canonical_record', canonical, ''
          FROM ent WHERE canonical IS NOT NULL
          UNION ALL
          SELECT cls, 'located_in', loc_gocc, '' FROM ent
          WHERE loc_gocc IS NOT NULL
          UNION ALL
          SELECT c.src_cls, 'has_component', e.cls, c.stoich
          FROM comp c JOIN ent e ON c.doc_id = e.doc_id AND c.child_id = e.elem_id
          UNION ALL
          SELECT set_cls, 'union_member', mcls, '' FROM mem_cls
          UNION ALL
          SELECT s.cls, 'subclass_of', coalesce(el.elected, 'CHEBI_33695'), ''
          FROM ent s LEFT JOIN elected el
            ON s.doc_id = el.doc_id AND s.elem_id = el.owner_id
          WHERE s.kind = 'entity_set'
          UNION ALL
          SELECT cls, 'has_feature', p[2], p[3] || '-' || p[4]
          FROM feat WHERE p[1] = 'mod'
          UNION ALL
          SELECT cls, 'has_fragment', 'frag', p[2] || '-' || p[3]
          FROM feat WHERE p[1] = 'frag'
          UNION ALL
          SELECT e.cls, 'has_role', e.chebi_role, ''
          FROM ent e
          WHERE e.chebi_role IS NOT NULL AND EXISTS (
            SELECT 1 FROM '{anc}' a
            WHERE a.class_iri = e.chebi_role AND a.ancestor_iri = 'CHEBI_50906')
          UNION ALL
          SELECT cls, 'only_in_taxon', taxon, '' FROM ent
          WHERE taxon IS NOT NULL
          UNION ALL
          SELECT cls, 'iuphar', iu, '' FROM drug_direct
          UNION ALL
          SELECT cls, 'iuphar', 'inherited', '' FROM drug_inherited
        )
    """
    from pathways2go_spark.datagen import ensure_reference_gpad

    ref_gpad = ensure_reference_gpad(KG_FIXTURE_DIR)
    # K1 TTL lines: same IRI mapping as sinks.ttl_lines, in SQL
    _cls_iri = """CASE
            WHEN starts_with(obj, 'UniProtKB_')
              THEN 'http://identifiers.org/uniprot/' || substr(obj, 11)
            WHEN starts_with(obj, 'SGD_')
              THEN 'http://identifiers.org/sgd/' || substr(obj, 5)
            WHEN starts_with(obj, 'ENSEMBL_')
              THEN 'http://identifiers.org/ensembl/' || substr(obj, 9)
            WHEN starts_with(obj, 'REACTO_')
              THEN 'http://purl.obolibrary.org/obo/go/extensions/reacto.owl#'
                   || substr(obj, 8)
            ELSE 'http://purl.obolibrary.org/obo/' || obj
          END"""
    ttl_sql = f"""
        SELECT model_id,
          '<http://model.geneontology.org/' || model_id || '/' || subj || '> '
          || CASE pred
               WHEN 'type'
                 THEN '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
               WHEN 'exactMatch'
                 THEN '<http://www.w3.org/2004/02/skos/core#exactMatch>'
               WHEN 'label'
                 THEN '<http://www.w3.org/2000/01/rdf-schema#label>'
               ELSE '<http://purl.obolibrary.org/obo/' || pred || '>'
             END
          || ' '
          || CASE
               WHEN pred = 'type' THEN '<' || {_cls_iri} || '>'
               WHEN pred IN ('exactMatch', 'label')
                 THEN '"' || replace(replace(obj, chr(92), chr(92) || chr(92)),
                                     '"', chr(92) || '"') || '"'
               ELSE '<http://model.geneontology.org/' || model_id || '/'
                    || obj || '>'
             END
          || ' .' AS line
        FROM '{tri}'
    """
    gpad_sql = f"""
            WITH t AS (SELECT * FROM '{tri}'),
            types AS (
              SELECT model_id, subj AS node, obj AS cls FROM t WHERE pred = 'type'
            ), mf AS (
              SELECT model_id, node AS reaction, cls AS go_id FROM types
              WHERE cls IN (SELECT class_iri FROM '{anc}'
                            WHERE ancestor_iri = 'GO_0003674')
            ), bp AS (
              SELECT model_id, node AS pathway, cls AS go_id FROM types
              WHERE cls IN (SELECT class_iri FROM '{anc}'
                            WHERE ancestor_iri = 'GO_0008150')
            ), gp AS (
              SELECT model_id, node, substr(cls, 11) AS db_object_id
              FROM types WHERE cls LIKE 'UniProtKB_%'
            ), en AS (
              SELECT e.model_id, e.subj AS reaction, g.db_object_id
              FROM t e JOIN gp g ON e.model_id = g.model_id AND e.obj = g.node
              WHERE e.pred = 'RO_0002333'
            ), po AS (
              SELECT model_id, subj AS reaction, obj AS pathway FROM t
              WHERE pred = 'BFO_0000050'
            )
            SELECT DISTINCT 'UniProtKB' AS db, db_object_id, qualifier, go_id,
                   model_id AS reference, 'ECO_0000313' AS evidence,
                   'pathways2go_spark' AS assigned_by
            FROM (
              SELECT en.model_id, en.db_object_id, 'enables' AS qualifier, m.go_id
              FROM en JOIN mf m ON en.model_id = m.model_id
                               AND en.reaction = m.reaction
              UNION ALL
              SELECT en.model_id, en.db_object_id, 'involved_in', b.go_id
              FROM en JOIN po ON en.model_id = po.model_id
                             AND en.reaction = po.reaction
                      JOIN bp b ON po.model_id = b.model_id
                               AND po.pathway = b.pathway
            )
        """
    sql = {
        "kg_triples": f"SELECT model_id, subj, pred, obj FROM '{tri}'",
        # the XML round-trip must land on the same golden triples the
        # span path is held to — one oracle, two front doors
        "kg_biopax_ingest": f"SELECT model_id, subj, pred, obj FROM '{tri}'",
        # the OBO round-trip must rebuild the ancestors dim exactly —
        # two ontology front doors (parquet / OBO text), one oracle
        "kg_obo_dims": (
            "SELECT class_iri, ancestor_iri FROM "
            f"'{fx['onto_ancestors']}'"
        ),
        "kg_merge": f"""
            WITH base AS (
              SELECT model_id, subj, pred, min(obj) AS obj
              FROM '{tri}' GROUP BY model_id, subj, pred
            ),
            tagged AS (
              SELECT *, substr(md5(model_id || '|' || subj || '|' || pred),
                               1, 1) AS h
              FROM base
            ),
            ch AS (
              SELECT model_id, subj, pred,
                     CASE WHEN h IN ('2', '3') THEN obj || '#v2'
                          ELSE obj END AS obj,
                     CASE WHEN h IN ('0', '1') THEN 'D' ELSE 'U' END AS op
              FROM tagged WHERE h IN ('0', '1', '2', '3')
            )
            SELECT b.model_id, b.subj, b.pred, b.obj
            FROM base b
            WHERE NOT EXISTS (
              SELECT 1 FROM ch c
              WHERE c.model_id = b.model_id AND c.subj = b.subj
                AND c.pred = b.pred
            )
            UNION ALL
            SELECT model_id, subj, pred, obj FROM ch WHERE op = 'U'
        """,
        "kg_audit": f"SELECT rule, model_id, reaction, detail FROM '{aud}'",
        "kg_ttl": ttl_sql,
        "kg_entity_ontology": eo_sql,
        "kg_unclassified": f"""
            WITH ty AS (
              SELECT model_id, subj AS node, obj AS cls FROM '{tri}'
              WHERE pred = 'type'
            ), rooted AS (
              SELECT class_iri AS cls FROM '{anc}'
              WHERE ancestor_iri IN ('GO_0003674','GO_0008150','GO_0005575',
                                     'CHEBI_24431','CHEBI_36080','GO_0032991')
            ), classified AS (
              SELECT DISTINCT model_id, node FROM ty JOIN rooted USING (cls)
            ), allnodes AS (
              SELECT DISTINCT model_id, node FROM ty
            )
            SELECT a.model_id, count(*) AS n_unclassified
            FROM allnodes a
            WHERE NOT EXISTS (SELECT 1 FROM classified c
                              WHERE c.model_id = a.model_id AND c.node = a.node)
            GROUP BY a.model_id
        """,
        "kg_validation": """
            SELECT '' AS "check", '' AS model_id, '' AS node, '' AS pred,
                   '' AS detail
            WHERE false
        """,
        "kg_shex": """
            SELECT "check", CAST(0 AS BIGINT) AS n_violations
            FROM (VALUES ('enabled_by_max1'), ('enabled_by_physical'),
                         ('occurs_in_cc'), ('occurs_in_max1'),
                         ('part_of_bp'), ('causal_occurrents'),
                         ('io_physical'), ('sm_regulator_chemical'),
                         ('interacts_physical')) AS t("check")
        """,
        "kg_gpad": gpad_sql,
        "kg_gpad_diff": f"""
            WITH export AS (
              SELECT DISTINCT db, db_object_id, qualifier, go_id, reference
              FROM ({gpad_sql})
            ), ref AS (
              SELECT DISTINCT db, db_object_id, qualifier, go_id, reference
              FROM '{ref_gpad}'
            )
            SELECT coalesce(e.db, r.db) AS db,
                   coalesce(e.db_object_id, r.db_object_id) AS db_object_id,
                   coalesce(e.qualifier, r.qualifier) AS qualifier,
                   coalesce(e.go_id, r.go_id) AS go_id,
                   coalesce(e.reference, r.reference) AS reference,
                   CASE WHEN e.db IS NOT NULL AND r.db IS NOT NULL
                          THEN 'overlap'
                        WHEN r.db IS NOT NULL THEN 'missing'
                        ELSE 'extra' END AS status,
                   EXISTS (SELECT 1 FROM export x
                           WHERE x.db_object_id =
                                 coalesce(e.db_object_id, r.db_object_id))
                     AS gene_in_export
            FROM export e
            FULL OUTER JOIN ref r
              ON e.db = r.db AND e.db_object_id = r.db_object_id
             AND e.qualifier = r.qualifier AND e.go_id = r.go_id
             AND e.reference = r.reference
        """,
        # reverse converter (GOtoBioPAX.java:113-293): same statement
        # derivation as pathways2go_spark.biopax_export.kg_to_biopax, run
        # over the independently-generated expected triples
        "kg_biopax": f"""
            WITH t AS (SELECT * FROM '{tri}'),
            ty AS (SELECT model_id, subj AS node, obj AS cls FROM t
                   WHERE pred = 'type'),
            anc AS (SELECT class_iri AS cls, ancestor_iri AS anc
                    FROM '{anc}'),
            bp AS (SELECT DISTINCT ty.model_id, ty.node AS b
                   FROM ty JOIN anc USING (cls) WHERE anc = 'GO_0008150'),
            rxn AS (SELECT DISTINCT p.model_id, p.subj AS r, p.obj AS b
                    FROM t p JOIN bp ON p.model_id = bp.model_id
                                    AND p.obj = bp.b
                    WHERE p.pred = 'BFO_0000050'),
            rn AS (SELECT DISTINCT model_id, r FROM rxn),
            rty AS (SELECT ty.model_id, ty.node AS r, ty.cls
                    FROM ty JOIN rn ON ty.model_id = rn.model_id
                                   AND ty.node = rn.r),
            isb AS (SELECT DISTINCT model_id, r FROM rty
                    JOIN anc USING (cls) WHERE anc = 'GO_0005488'),
            isc AS (SELECT DISTINCT model_id, r FROM rty
                    JOIN anc USING (cls) WHERE anc = 'GO_0003824'),
            ccs AS (SELECT DISTINCT o.model_id, o.r, ty.cls AS cc
                    FROM (SELECT model_id, subj AS r, obj AS loc FROM t
                          WHERE pred = 'BFO_0000066') o
                    JOIN rn USING (model_id, r)
                    JOIN ty ON ty.model_id = o.model_id
                           AND ty.node = o.loc),
            en AS (SELECT t.model_id, subj AS r, obj AS e FROM t
                   JOIN rn ON t.model_id = rn.model_id AND t.subj = rn.r
                   WHERE pred = 'RO_0002333'),
            ins AS (SELECT t.model_id, subj AS r, obj AS i FROM t
                    JOIN rn ON t.model_id = rn.model_id AND t.subj = rn.r
                    WHERE pred = 'RO_0002233'),
            outs AS (SELECT t.model_id, subj AS r, obj AS o FROM t
                     JOIN rn ON t.model_id = rn.model_id AND t.subj = rn.r
                     WHERE pred = 'RO_0002234'),
            parts AS (SELECT DISTINCT model_id, r, e AS p FROM en
                      UNION SELECT DISTINCT model_id, r, i FROM ins
                      UNION SELECT DISTINCT model_id, r, o FROM outs),
            enc AS (SELECT en.model_id, en.r, en.e,
                           CASE WHEN isc.r IS NOT NULL THEN 'Catalysis'
                                ELSE 'Control' END AS kind,
                           en.e || CASE WHEN isc.r IS NOT NULL
                                        THEN '~as_catalytic_control'
                                        ELSE '~as_control' END AS cid
                    FROM en LEFT JOIN isc
                      ON en.model_id = isc.model_id AND en.r = isc.r),
            cplx AS (SELECT b.model_id, b.r, b.r || '~cplx' AS cx
                     FROM isb b
                     LEFT JOIN (SELECT DISTINCT model_id, r FROM outs) oo
                       ON b.model_id = oo.model_id AND b.r = oo.r
                     JOIN (SELECT model_id, r, count(*) AS n FROM ins
                           GROUP BY 1, 2) ni
                       ON b.model_id = ni.model_id AND b.r = ni.r
                     WHERE oo.r IS NULL AND ni.n >= 2),
            causal AS (SELECT DISTINCT t.model_id, subj AS r, pred,
                              obj AS r2
                       FROM t JOIN rn ON t.model_id = rn.model_id
                                     AND t.subj = rn.r
                       WHERE pred IN ('RO_0002411', 'RO_0002413',
                                      'RO_0002629', 'RO_0002630'))
            SELECT DISTINCT * FROM (
              SELECT model_id, 'Pathway' AS bp_kind, b AS bp_id,
                     'dataSource' AS prop, model_id AS val FROM bp
              UNION ALL
              SELECT ty.model_id, 'Pathway', bp.b, 'xref', ty.cls
              FROM ty JOIN bp ON ty.model_id = bp.model_id
                             AND ty.node = bp.b
              UNION ALL
              SELECT model_id, 'BiochemicalReaction', r,
                     'pathwayComponent', b FROM rxn
              UNION ALL
              SELECT model_id, 'BiochemicalReaction', r, 'xref', cls
              FROM rty
              UNION ALL
              SELECT p.model_id, 'PhysicalEntity', p.p,
                     'cellularLocation', c.cc
              FROM parts p JOIN ccs c
                ON p.model_id = c.model_id AND p.r = c.r
              UNION ALL
              SELECT model_id, kind, cid, 'controlled', r FROM enc
              UNION ALL
              SELECT model_id, kind, cid, 'controller', e FROM enc
              UNION ALL
              SELECT model_id, kind, cid, 'controlType', 'ACTIVATION'
              FROM enc
              UNION ALL
              SELECT model_id, 'BiochemicalReaction', r, 'left', i
              FROM ins
              UNION ALL
              SELECT model_id, 'BiochemicalReaction', r, 'right', o
              FROM outs
              UNION ALL
              SELECT c.model_id, 'Complex', c.cx, 'component', i.i
              FROM cplx c JOIN ins i
                ON c.model_id = i.model_id AND c.r = i.r
              UNION ALL
              SELECT model_id, 'BiochemicalReaction', r, 'right', cx
              FROM cplx
              UNION ALL
              SELECT model_id, 'PathwayStep', r || '~step', 'stepProcess',
                     r FROM causal
              UNION ALL
              SELECT model_id, 'PathwayStep', r2 || '~step', 'stepProcess',
                     r2 FROM causal
              UNION ALL
              SELECT model_id, 'PathwayStep', r || '~step', 'nextStep',
                     r2 || '~step' FROM causal
              UNION ALL
              SELECT model_id, 'Control', r || '~as_function_control',
                     'controlled', r2 FROM causal
              UNION ALL
              SELECT model_id, 'Control', r || '~as_function_control',
                     'controlType',
                     CASE WHEN pred = 'RO_0002629' THEN 'ACTIVATION'
                          ELSE 'INHIBITION' END
              FROM causal WHERE pred IN ('RO_0002629', 'RO_0002630')
              UNION ALL
              SELECT ca.model_id, 'Control',
                     ca.r || '~as_function_control', 'controller', c.cx
              FROM causal ca JOIN cplx c
                ON ca.model_id = c.model_id AND ca.r = c.r
            )
        """,
        "kg_span_kind_counts": f"""
            SELECT s.kind AS kind, count(*) AS n_spans
            FROM (SELECT unnest(spans) AS s FROM '{docs}')
            GROUP BY 1
        """,
        "kg_span_invariant": f"""
            WITH sp AS (
              SELECT doc_id, unnest(spans) AS s,
                     generate_subscripts(spans, 1) - 1 AS ord
              FROM '{docs}'
            ), r AS (
              SELECT doc_id, ord, s.kind AS kind,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY s."offset", ord) - 1
                       AS rank_by_offset
              FROM sp
            )
            SELECT doc_id, ord, rank_by_offset, kind
            FROM r WHERE rank_by_offset <> ord
        """,
        "kg_relation_counts": f"""
            SELECT pred, count(*) AS n FROM '{tri}'
            WHERE pred IN ({_EDGE_IN}) GROUP BY 1
        """,
        "kg_corpus_summary": f"""
            SELECT model_id,
                   count(*) AS n_triples,
                   count(DISTINCT subj) AS n_subjects,
                   count(DISTINCT CASE WHEN pred = 'type' THEN subj END)
                     AS n_typed_nodes,
                   CAST(sum(CASE WHEN pred = '{V.CAUSALLY_UPSTREAM}' THEN 1 ELSE 0 END) AS BIGINT) AS n_causal,
                   CAST(sum(CASE WHEN pred = '{V.PROVIDES_INPUT}' THEN 1 ELSE 0 END) AS BIGINT) AS n_provides_input,
                   CAST(sum(CASE WHEN pred = '{V.ENABLED_BY}' THEN 1 ELSE 0 END) AS BIGINT) AS n_enabled_by
            FROM '{tri}' GROUP BY 1
        """,
        "kg_bp_nodes": f"""
            SELECT DISTINCT t.model_id, t.subj AS node, t.obj AS cls
            FROM '{tri}' t JOIN '{anc}' a ON t.obj = a.class_iri
            WHERE t.pred = 'type' AND a.ancestor_iri = '{V.BP_ROOT}'
        """,
        "kg_mf_nodes": f"""
            SELECT DISTINCT t.model_id, t.subj AS node, t.obj AS cls
            FROM '{tri}' t JOIN '{anc}' a ON t.obj = a.class_iri
            WHERE t.pred = 'type' AND a.ancestor_iri = '{V.MF_ROOT}'
        """,
        "kg_component_locations": f"""
            SELECT DISTINCT o.model_id, ty.obj AS location_cls
            FROM '{tri}' o
            JOIN '{tri}' ty
              ON ty.model_id = o.model_id AND ty.subj = o.obj
             AND ty.pred = 'type'
            WHERE o.pred = '{V.OCCURS_IN}'
        """,
        "kg_untyped_reactions": f"""
            WITH me AS (
              SELECT model_id, subj AS reaction FROM '{tri}'
              WHERE pred = 'type' AND obj = '{V.MOLECULAR_EVENT}'
            ), io AS (
              SELECT model_id, subj AS reaction, pred, obj AS e FROM '{tri}'
              WHERE pred IN ('{V.HAS_INPUT}', '{V.HAS_OUTPUT}')
            )
            SELECT me.model_id, me.reaction,
                   coalesce(string_agg(DISTINCT CASE WHEN io.pred = '{V.HAS_INPUT}' THEN io.e END,
                                       ',' ORDER BY CASE WHEN io.pred = '{V.HAS_INPUT}' THEN io.e END), '') AS inputs,
                   coalesce(string_agg(DISTINCT CASE WHEN io.pred = '{V.HAS_OUTPUT}' THEN io.e END,
                                       ',' ORDER BY CASE WHEN io.pred = '{V.HAS_OUTPUT}' THEN io.e END), '') AS outputs
            FROM me LEFT JOIN io
              ON io.model_id = me.model_id AND io.reaction = me.reaction
            GROUP BY 1, 2
        """,
        "kg_xref_map": f"""
            SELECT model_id, subj AS node,
                   string_agg(DISTINCT obj, ',' ORDER BY obj) AS xrefs
            FROM '{tri}' WHERE pred = 'exactMatch' GROUP BY 1, 2
        """,
        "kg_entity_mapping": f"""
            WITH {em_cte}
            SELECT * FROM em
        """,
        "kg_model_report": f"""
            WITH {em_cte},
            per_kind AS (
              SELECT model_id,
                CAST(sum(CASE WHEN kind = 'pathway' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_pathways,
                CAST(sum(CASE WHEN kind = 'function' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_functions,
                CAST(sum(CASE WHEN kind = 'complex' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_complexes,
                CAST(sum(CASE WHEN kind = 'pathway' AND curated_types = ''
                     AND rule_types = '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS pathway_unclassified,
                CAST(sum(CASE WHEN kind = 'function' AND curated_types = ''
                     AND rule_types = '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS function_unclassified,
                CAST(sum(CASE WHEN kind = 'complex' AND curated_types = ''
                     AND rule_types = '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS complex_unclassified,
                CAST(sum(CASE WHEN kind = 'pathway' AND curated_types = ''
                     AND rule_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS pathway_rule_classified,
                CAST(sum(CASE WHEN kind = 'function' AND curated_types = ''
                     AND rule_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS function_rule_classified,
                CAST(sum(CASE WHEN kind = 'complex' AND curated_types = ''
                     AND rule_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS complex_rule_classified,
                CAST(sum(CASE WHEN kind = 'pathway' AND curated_types <> ''
                     AND inferred_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS pathway_deepened,
                CAST(sum(CASE WHEN kind = 'function' AND curated_types <> ''
                     AND inferred_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS function_deepened,
                CAST(sum(CASE WHEN kind = 'complex' AND curated_types <> ''
                     AND inferred_types <> '' THEN 1 ELSE 0 END) AS BIGINT)
                  AS complex_deepened
              FROM em GROUP BY 1
            ),
            prot AS (SELECT class_iri AS cls FROM '{anc}'
                     WHERE ancestor_iri = '{V.PROTEIN_ROOT}'),
            chem AS (SELECT class_iri AS cls FROM '{anc}'
                     WHERE ancestor_iri = '{V.CHEMICAL_ROOT}'
                       AND class_iri NOT IN (SELECT cls FROM prot)),
            ccc AS (SELECT class_iri AS cls FROM '{anc}'
                    WHERE ancestor_iri = '{V.CC_ROOT}'),
            np AS (SELECT model_id, CAST(count(DISTINCT node) AS BIGINT)
                     AS n_proteins
                   FROM ty JOIN prot USING (cls) GROUP BY 1),
            nc AS (SELECT model_id, CAST(count(DISTINCT node) AS BIGINT)
                     AS n_chemicals
                   FROM ty JOIN chem USING (cls) GROUP BY 1),
            ncc AS (SELECT model_id, CAST(count(DISTINCT cls) AS BIGINT)
                      AS n_cc_classes
                    FROM ty JOIN ccc USING (cls) GROUP BY 1),
            nr AS (SELECT model_id, CAST(count(DISTINCT pred) AS BIGINT)
                     AS n_relations
                   FROM '{tri}' WHERE pred IN ('{rp_edges}') GROUP BY 1),
            models AS (
              SELECT model_id FROM per_kind UNION SELECT model_id FROM np
              UNION SELECT model_id FROM nc UNION SELECT model_id FROM ncc
              UNION SELECT model_id FROM nr
            )
            SELECT m.model_id,
              coalesce(pk.n_pathways, 0) AS n_pathways,
              coalesce(pk.n_functions, 0) AS n_functions,
              coalesce(pk.n_complexes, 0) AS n_complexes,
              coalesce(pk.pathway_unclassified, 0) AS pathway_unclassified,
              coalesce(pk.function_unclassified, 0) AS function_unclassified,
              coalesce(pk.complex_unclassified, 0) AS complex_unclassified,
              coalesce(pk.pathway_rule_classified, 0)
                AS pathway_rule_classified,
              coalesce(pk.function_rule_classified, 0)
                AS function_rule_classified,
              coalesce(pk.complex_rule_classified, 0)
                AS complex_rule_classified,
              coalesce(pk.pathway_deepened, 0) AS pathway_deepened,
              coalesce(pk.function_deepened, 0) AS function_deepened,
              coalesce(pk.complex_deepened, 0) AS complex_deepened,
              coalesce(np.n_proteins, 0) AS n_proteins,
              coalesce(nc.n_chemicals, 0) AS n_chemicals,
              coalesce(ncc.n_cc_classes, 0) AS n_cc_classes,
              coalesce(nr.n_relations, 0) AS n_relations
            FROM models m
            LEFT JOIN per_kind pk USING (model_id)
            LEFT JOIN np USING (model_id)
            LEFT JOIN nc USING (model_id)
            LEFT JOIN ncc USING (model_id)
            LEFT JOIN nr USING (model_id)
        """,
        "kg_reaction_venn": f"""
            WITH {venn_cte}
            SELECT * FROM venn
        """,
        "kg_reaction_completeness": f"""
            WITH {venn_cte}
            SELECT
              CAST(count(*) AS BIGINT) AS n_reactions,
              CAST(sum(is_mf) AS BIGINT) AS n_mf_reactions,
              CAST(sum(CASE WHEN is_me = 1 AND is_mf = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_me_only_reactions,
              CAST(sum(has_enabler) AS BIGINT) AS n_with_enabler,
              CAST(sum(1 - has_enabler) AS BIGINT) AS n_no_enabler,
              CAST(sum(CASE WHEN is_mf = 1 AND has_enabler = 0 THEN 1
                       ELSE 0 END) AS BIGINT) AS n_mf_no_enabler,
              CAST(sum(has_bp) AS BIGINT) AS n_with_bp,
              CAST(sum(has_causal) AS BIGINT) AS n_with_causal,
              CAST(sum(1 - has_causal) AS BIGINT) AS n_no_causal,
              CAST(sum(has_location) AS BIGINT) AS n_with_occurs_in,
              CAST(sum(1 - has_location) AS BIGINT) AS n_no_occurs_in,
              CAST(sum(has_causal * has_enabler * has_location * has_bp)
                   AS BIGINT) AS n_complete,
              CAST(sum(is_binding) AS BIGINT) AS n_binding,
              CAST(sum(is_dissociation) AS BIGINT) AS n_dissociation
            FROM venn
        """,
        "kg_causal_formats": f"""
            WITH {venn_cte},
            direct AS (SELECT model_id, subj AS up, pred, obj AS down
                       FROM '{tri}' WHERE pred IN ('{rp_causal}')),
            bnd AS (SELECT model_id, node AS b FROM ty
                    WHERE cls = '{V.BINDING}'),
            hop AS (
              SELECT p.model_id, p.subj AS up, r.pred, r.obj AS down
              FROM '{tri}' p
              JOIN bnd b ON p.model_id = b.model_id AND p.obj = b.b
              JOIN '{tri}' r ON r.model_id = p.model_id AND r.subj = p.obj
              WHERE p.pred = '{V.PROVIDES_INPUT}'
                AND r.pred IN ('{V.DIRECTLY_POS_REGULATES}',
                               '{V.DIRECTLY_NEG_REGULATES}')
            ),
            allp AS (SELECT * FROM direct UNION ALL SELECT * FROM hop),
            pairs AS (
              SELECT a.model_id, a.up, a.down, min(a.pred) AS pred
              FROM allp a
              JOIN rx u ON a.model_id = u.model_id AND a.up = u.reaction
              JOIN rx d ON a.model_id = d.model_id AND a.down = d.reaction
              GROUP BY 1, 2, 3
            )
            SELECT model_id, pred, CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1, 2
        """,
        "kg_components": f"""
            WITH RECURSIVE e AS (
              SELECT model_id, subj AS s, obj AS o FROM '{tri}'
              WHERE pred IN ('{rp_edges}') GROUP BY 1, 2, 3
            ),
            und AS (
              SELECT model_id, s AS a, o AS b FROM e
              UNION SELECT model_id, o, s FROM e
            ),
            reach(model_id, node, peer) AS (
              SELECT model_id, a, a FROM und
              UNION
              SELECT r.model_id, r.node, u.b
              FROM reach r
              JOIN und u ON r.model_id = u.model_id AND r.peer = u.a
            ),
            comp AS (
              SELECT model_id, node, min(peer) AS cid
              FROM reach GROUP BY 1, 2
            ),
            sizes AS (
              SELECT model_id, cid, count(*) AS sz
              FROM comp GROUP BY 1, 2
            )
            SELECT model_id, CAST(sum(sz) AS BIGINT) AS n_nodes,
                   CAST(count(*) AS BIGINT) AS n_components,
                   CAST(max(sz) AS BIGINT) AS largest_component
            FROM sizes GROUP BY model_id
        """,
        "kg_triangles": f"""
            WITH e AS (
              SELECT model_id, least(subj, obj) AS a,
                     greatest(subj, obj) AS b
              FROM '{tri}'
              WHERE pred IN ('{rp_causal}') AND subj <> obj
              GROUP BY 1, 2, 3
            ),
            deg AS (
              SELECT model_id, node, count(*) AS d
              FROM (SELECT model_id, a AS node FROM e
                    UNION ALL SELECT model_id, b FROM e)
              GROUP BY 1, 2
            ),
            w AS (
              SELECT model_id, CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
              FROM deg GROUP BY 1
            ),
            tr AS (
              SELECT e1.model_id, count(*) AS nt
              FROM e e1
              JOIN e e2 ON e1.model_id = e2.model_id AND e1.b = e2.a
              JOIN e e3 ON e3.model_id = e1.model_id
                       AND e3.a = e1.a AND e3.b = e2.b
              GROUP BY 1
            ),
            ne AS (SELECT model_id, count(*) AS n_edges FROM e GROUP BY 1)
            SELECT ne.model_id, ne.n_edges, w.n_wedges,
                   CAST(coalesce(tr.nt, 0) AS BIGINT) AS n_triangles,
                   round(CASE WHEN w.n_wedges > 0
                              THEN 3.0 * coalesce(tr.nt, 0) / w.n_wedges
                              ELSE 0.0 END, 6) AS clustering
            FROM ne JOIN w USING (model_id) LEFT JOIN tr USING (model_id)
        """,
        "kg_node_clustering": f"""
            WITH e AS (
              SELECT model_id, least(subj, obj) AS a,
                     greatest(subj, obj) AS b
              FROM '{tri}'
              WHERE pred IN ('{rp_causal}') AND subj <> obj
              GROUP BY 1, 2, 3
            ),
            deg AS (
              SELECT model_id, node, count(*) AS d
              FROM (SELECT model_id, a AS node FROM e
                    UNION ALL SELECT model_id, b FROM e)
              GROUP BY 1, 2
            ),
            corners AS (
              SELECT e1.model_id,
                     unnest([e1.a, e1.b, e2.b]) AS node
              FROM e e1
              JOIN e e2 ON e1.model_id = e2.model_id AND e1.b = e2.a
              JOIN e e3 ON e3.model_id = e1.model_id
                       AND e3.a = e1.a AND e3.b = e2.b
            ),
            tc AS (
              SELECT model_id, node, count(*) AS n_tri FROM corners
              GROUP BY 1, 2
            )
            SELECT deg.model_id, deg.node,
                   CAST(d AS BIGINT) AS degree,
                   CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
                   CASE WHEN coalesce(n_tri, 0) > 0 THEN
                     floor(CAST(2 * n_tri AS DOUBLE) / (d * (d - 1))
                           * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6
                   ELSE 0.0 END AS coeff
            FROM deg LEFT JOIN tc USING (model_id, node)
            WHERE d >= 2
        """,
        "kg_neighbor_jaccard": f"""
            WITH e AS (
              SELECT model_id, least(subj, obj) AS a,
                     greatest(subj, obj) AS b
              FROM '{tri}'
              WHERE pred IN ('{rp_causal}') AND subj <> obj
              GROUP BY 1, 2, 3
            ),
            adj AS (
              SELECT model_id, a AS node, b AS nbr FROM e
              UNION ALL
              SELECT model_id, b AS node, a AS nbr FROM e
            ),
            deg AS (
              SELECT model_id, node, count(*) AS d FROM adj GROUP BY 1, 2
            ),
            adj_f AS (
              SELECT adj.model_id, adj.node, adj.nbr
              FROM adj JOIN deg
                ON adj.model_id = deg.model_id AND adj.nbr = deg.node
              WHERE deg.d <= 64
            ),
            deg_f AS (
              SELECT model_id, node, count(*) AS df
              FROM adj_f GROUP BY 1, 2
            ),
            pairs AS (
              SELECT x.model_id, x.node AS node_a, y.node AS node_b,
                     count(*) AS n_common
              FROM adj_f x JOIN adj_f y
                ON x.model_id = y.model_id AND x.nbr = y.nbr
               AND x.node < y.node
              GROUP BY 1, 2, 3
            )
            SELECT p.model_id, p.node_a, p.node_b,
                   CAST(p.n_common AS BIGINT) AS n_common,
                   floor(CAST(p.n_common AS DOUBLE)
                         / (da.df + db.df - p.n_common)
                         * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS jaccard
            FROM pairs p
            JOIN deg_f da ON da.model_id = p.model_id
                         AND da.node = p.node_a
            JOIN deg_f db ON db.model_id = p.model_id
                         AND db.node = p.node_b
        """,
        "kg_resource_alloc": f"""
            WITH e AS (
              SELECT model_id, least(subj, obj) AS a,
                     greatest(subj, obj) AS b
              FROM '{tri}'
              WHERE pred IN ('{rp_causal}') AND subj <> obj
              GROUP BY 1, 2, 3
            ),
            adj AS (
              SELECT model_id, a AS node, b AS nbr FROM e
              UNION ALL
              SELECT model_id, b AS node, a AS nbr FROM e
            ),
            deg AS (
              SELECT model_id, node, count(*) AS d FROM adj GROUP BY 1, 2
            ),
            adj_f AS (
              SELECT adj.model_id, adj.node, adj.nbr, deg.d AS w_deg
              FROM adj JOIN deg
                ON adj.model_id = deg.model_id AND adj.nbr = deg.node
              WHERE deg.d <= 64
            )
            SELECT x.model_id, x.node AS node_a, y.node AS node_b,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(sum(CAST(floor(1000000.0 / x.w_deg) AS BIGINT))
                        AS BIGINT) AS ra_micro
            FROM adj_f x JOIN adj_f y
              ON x.model_id = y.model_id AND x.nbr = y.nbr
             AND x.node < y.node
            GROUP BY 1, 2, 3
        """,
        "kg_causal_paths": f"""
            WITH RECURSIVE causal AS (
              SELECT model_id, subj AS src, obj AS dst FROM '{tri}'
              WHERE pred IN ('{rp_causal}') GROUP BY 1, 2, 3
            ), paths(model_id, src, dst, depth) AS (
              SELECT model_id, src, dst, 1 FROM causal
              UNION
              SELECT p.model_id, p.src, c.dst, p.depth + 1
              FROM paths p
              JOIN causal c ON p.model_id = c.model_id AND p.dst = c.src
              WHERE p.depth < 4
            )
            SELECT model_id, src, dst, CAST(min(depth) AS INT) AS depth
            FROM paths GROUP BY 1, 2, 3
        """,
        "kg_pagerank": _pagerank_sql(tri, rp_causal, iters=5),
        "kg_degree_hist": f"""
            SELECT CAST(degree AS BIGINT) AS degree,
                   count(*) AS n_subjects
            FROM (
              SELECT model_id, subj, count(*) AS degree
              FROM '{tri}' GROUP BY 1, 2
            ) GROUP BY 1
        """,
        "sketch_cms": f"""
            WITH vals AS (
              SELECT tok AS v FROM documents,
                   unnest(string_split_regex(trim(text), '\\s+'))
                     AS t(tok)
              WHERE tok <> ''
            ), rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
            pairs AS (
              SELECT v, r,
                     ('0x' || substr(md5(r || '|' || v), 1, 8))::BIGINT
                       % 64 AS b
              FROM vals CROSS JOIN rs
            ), cells AS (
              SELECT r, b, count(*) AS c FROM pairs GROUP BY 1, 2
            ), cand AS (
              SELECT v AS value, count(*) AS true_n FROM vals GROUP BY 1
            ), probes AS (
              SELECT value, true_n, r,
                     ('0x' || substr(md5(r || '|' || value), 1, 8))
                       ::BIGINT % 64 AS b
              FROM cand CROSS JOIN rs
            ), est AS (
              SELECT value, true_n, min(c) AS est
              FROM probes JOIN cells USING (r, b)
              GROUP BY 1, 2
            )
            SELECT value, est, true_n, CAST(rank AS INT) AS rank
            FROM (
              SELECT *, row_number() OVER (ORDER BY est DESC, value)
                AS rank
              FROM est
            ) WHERE rank <= 10
        """,
        "sketch_kmv_setops": """
            WITH toks AS (
              SELECT source, tok FROM documents,
                   unnest(string_split_regex(trim(text), '\\s+'))
                     AS t(tok)
              WHERE tok <> ''
            ), hashed AS (
              SELECT DISTINCT
                     CASE WHEN length(source) <= 4 THEN 'a' ELSE 'b' END
                       AS side,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hh
              FROM toks
            ), ranked AS (
              SELECT side, hh,
                     row_number() OVER (PARTITION BY side ORDER BY hh)
                       AS rn
              FROM hashed
            ), kept AS (SELECT side, hh FROM ranked WHERE rn <= 16),
            sides AS (
              SELECT side, count(*) AS n, max(hh) AS kth FROM kept
              GROUP BY side
            ), se AS (
              SELECT side, n,
                     CAST(CASE WHEN n < 16 THEN n
                          ELSE (15 * 4294967296) // greatest(kth, 1)
                          END AS BIGINT) AS est,
                     CASE WHEN n < 16 THEN 4294967296 ELSE kth END
                       AS theta
              FROM sides
            ), th AS (
              SELECT a.n AS n_a, b.n AS n_b, a.est AS est_a,
                     b.est AS est_b,
                     least(a.theta, b.theta) AS theta
              FROM (SELECT * FROM se WHERE side = 'a') a,
                   (SELECT * FROM se WHERE side = 'b') b
            ), mem AS (
              SELECT hh,
                     max(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
                     max(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
              FROM kept GROUP BY hh
            ), ret AS (
              SELECT th.*, mem.in_a, mem.in_b
              FROM mem, th WHERE mem.hh < th.theta
            ), agg AS (
              SELECT n_a, n_b, est_a, est_b, theta,
                     count(*) AS retained,
                     sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0
                         END) AS common
              FROM ret GROUP BY 1, 2, 3, 4, 5
            )
            SELECT n_a, n_b, est_a, est_b, theta,
                   CAST(retained AS BIGINT) AS retained,
                   CAST(CASE WHEN theta = 4294967296 THEN retained
                        ELSE (retained * 4294967296) // theta
                        END AS BIGINT) AS est_union,
                   CAST(CASE WHEN theta = 4294967296 THEN common
                        ELSE (common * 4294967296) // theta
                        END AS BIGINT) AS est_intersect
            FROM agg
        """,
        "data_weighted_sample": """
            WITH w AS (
              SELECT lang, doc_id, n_chars,
                     floor((-ln(
                         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8))::BIGINT + 1)
                         / 4294967296.0)
                       / CAST(n_chars AS DOUBLE)) * 1e9 + 0.5) / 1e9
                       AS samp_key
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            ), r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY lang ORDER BY samp_key, doc_id
                     ) AS rank
              FROM w
            )
            SELECT lang, doc_id, n_chars AS weight, samp_key,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        "events_coverage": """
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts) + CAST(floor(value * 1e7) AS BIGINT)
                       AS e
              FROM events
            ), f AS (SELECT * FROM iv WHERE e > s),
            flag AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER w IS NULL
                            OR s > max(e) OVER w THEN 1 ELSE 0 END
                       AS neu
              FROM f
              WINDOW w AS (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING)
            ), isl AS (
              SELECT *, sum(neu) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS island
              FROM flag
            ), g AS (
              SELECT user_id, island, min(s) AS i_s, max(e) AS i_e,
                     count(*) AS n
              FROM isl GROUP BY 1, 2
            )
            SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
                   CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(sum(i_e - i_s) AS BIGINT) AS covered
            FROM g GROUP BY 1
        """,
        "kg_chebi_usage": f"""
            WITH {ty_cte},
            chem AS (SELECT class_iri AS cls FROM '{anc}'
                     WHERE ancestor_iri = '{V.CHEMICAL_ROOT}')
            SELECT cls, CAST(count(*) AS BIGINT) AS n
            FROM ty JOIN chem USING (cls) GROUP BY 1
        """,
        "kg_deprecated_terms": f"""
            WITH {ty_cte},
            dep AS (SELECT DISTINCT class_iri AS cls FROM '{anc}'
                    WHERE substr(md5(class_iri), 1, 1) IN ('0', '1'))
            SELECT cls, CAST(count(DISTINCT model_id) AS BIGINT) AS n_models,
                   CAST(count(*) AS BIGINT) AS n_uses
            FROM ty JOIN dep USING (cls) GROUP BY 1
        """,
        "data_shards": f"""
            WITH tok AS (
              SELECT doc_id, len({_TOKS_RAW}) AS n_tokens FROM documents
            ), pref AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS p
              FROM tok
            )
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(floor(p / 20000) AS BIGINT) AS shard
            FROM pref
        """,
        "data_sample": f"""
            WITH f AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % {DO.SAMPLE_MOD} AS bkt,
                     CASE source WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25
                          WHEN 'src3' THEN 1.0 ELSE 0.1 END AS frac
              FROM documents
            )
            SELECT doc_id, source FROM f
            WHERE bkt < CAST(floor(frac * {DO.SAMPLE_MOD}) AS BIGINT)
        """,
        "data_mixture": f"""
            WITH census AS (
              SELECT source AS stratum, count(*) AS n_docs,
                     sum(len({_TOKS_RAW})) AS n_tokens
              FROM documents GROUP BY 1
            ), r AS (
              SELECT stratum, n_docs, n_tokens,
                     CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()
                       AS actual_prop,
                     CAST(CASE stratum WHEN 'src1' THEN 0.3
                          WHEN 'src2' THEN 0.3 WHEN 'src3' THEN 0.4
                          ELSE 0.0 END AS DOUBLE) AS target_prop
              FROM census
            ), rr AS (
              SELECT *, target_prop / actual_prop AS raw_rate FROM r
            )
            SELECT stratum, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(actual_prop, 6) AS actual_prop,
                   round(target_prop, 6) AS target_prop,
                   round(raw_rate / max(raw_rate) OVER (), 6) AS sample_rate
            FROM rr
        """,
        "dedup_exact": f"""
            WITH {_CORPUS_CTE}
            SELECT md5(text) AS md5, count(*) AS n_docs, min(doc_id) AS keeper
            FROM corpus GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_CORPUS50_CTE}, {_SHINGLE_CTE},
            pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                       AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT a, b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.8
        """,
        "dedup_minhash_lsh": f"""
            SELECT doc_id AS a, doc_id + {DOC_OFFSET} AS b, 1.0 AS est_jaccard
            FROM documents WHERE doc_id < 50
        """,
        "dedup_containment": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 25
              UNION ALL
              SELECT doc_id + {DOC_OFFSET} AS doc_id,
                     array_to_string(list_slice(
                       string_split_regex(trim(text), '\\s+'), 1, 20), ' ')
                       AS text
              FROM documents WHERE doc_id < 25
            ), {_SHINGLE_CTE},
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sizes AS (SELECT doc_id AS a, len(s) AS n_a FROM sh),
            keep AS (
              SELECT shingle FROM ex GROUP BY 1 HAVING count(*) <= 256
            ), e2 AS (
              SELECT ex.* FROM ex JOIN keep USING (shingle)
            ), inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
              FROM e2 x JOIN e2 y USING (shingle)
              WHERE x.doc_id != y.doc_id GROUP BY 1, 2
            )
            SELECT a, b, n_inter, CAST(n_a AS BIGINT) AS n_a,
                   round(n_inter / CAST(n_a AS DOUBLE), 6) AS containment
            FROM inter JOIN sizes USING (a)
            WHERE round(n_inter / CAST(n_a AS DOUBLE), 6) >= 0.9
        """,
        "dedup_lsh_recall": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + {DOC_OFFSET} AS doc_id,
                     array_to_string(list_slice(
                       string_split_regex(trim(text), '\\s+'), 1,
                       greatest((len(string_split_regex(trim(text),
                                 '\\s+')) * 4) // 5, 1)), ' ') AS text
              FROM documents WHERE doc_id < 50
            ), {_SHINGLE_CTE},
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
            keep AS (
              SELECT shingle FROM ex GROUP BY 1 HAVING count(*) <= 256
            ), e2 AS (
              SELECT ex.* FROM ex JOIN keep USING (shingle)
            ), inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
              FROM e2 x JOIN e2 y USING (shingle)
              WHERE x.doc_id < y.doc_id GROUP BY 1, 2
            ), truth AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON inter.a = sa.doc_id
              JOIN sizes sb ON inter.b = sb.doc_id
              WHERE CAST(n_inter AS DOUBLE)
                    / (sa.sz + sb.sz - n_inter)
                    >= CAST(0.5 AS DOUBLE)
            ), hs AS (
              SELECT doc_id, i,
                     min(CAST(('0x' || substr(md5(
                       CAST(i AS VARCHAR) || '|' || shingle), 1, 8))
                       AS BIGINT)) AS h
              FROM ex, unnest(generate_series(0, 15)) AS t(i)
              GROUP BY 1, 2
            ), bnd AS (
              SELECT doc_id, i // 4 AS bi,
                     CAST(('0x' || substr(md5(array_to_string(
                       list(h ORDER BY i), '|')), 1, 8)) AS BIGINT)
                       AS bh
              FROM hs GROUP BY doc_id, i // 4
            ), cand AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM bnd x JOIN bnd y
                ON x.bi = y.bi AND x.bh = y.bh
               AND x.doc_id < y.doc_id
            ), m AS (
              SELECT (SELECT count(*) FROM truth) AS n_truth,
                     (SELECT count(*) FROM cand) AS n_cand,
                     (SELECT count(*) FROM truth t JOIN cand c
                        ON t.a = c.a AND t.b = c.b) AS n_hits
            )
            SELECT n_truth, n_cand, n_hits,
                   CASE WHEN n_cand > 0 THEN
                     floor(CAST(n_hits AS DOUBLE) / n_cand * 1e6
                           + CAST(0.5 AS DOUBLE)) / 1e6 END
                     AS "precision",
                   CASE WHEN n_truth > 0 THEN
                     floor(CAST(n_hits AS DOUBLE) / n_truth * 1e6
                           + CAST(0.5 AS DOUBLE)) / 1e6 END AS recall
            FROM m
        """,
        "dedup_band_sweep": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + {DOC_OFFSET} AS doc_id,
                     array_to_string(list_slice(
                       string_split_regex(trim(text), '\\s+'), 1,
                       greatest((len(string_split_regex(trim(text),
                                 '\\s+')) * 4) // 5, 1)), ' ') AS text
              FROM documents WHERE doc_id < 50
            ), {_SHINGLE_CTE},
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
            keep AS (
              SELECT shingle FROM ex GROUP BY 1 HAVING count(*) <= 256
            ), e2 AS (
              SELECT ex.* FROM ex JOIN keep USING (shingle)
            ), inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
              FROM e2 x JOIN e2 y USING (shingle)
              WHERE x.doc_id < y.doc_id GROUP BY 1, 2
            ), truth AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON inter.a = sa.doc_id
              JOIN sizes sb ON inter.b = sb.doc_id
              WHERE CAST(n_inter AS DOUBLE)
                    / (sa.sz + sb.sz - n_inter)
                    >= CAST(0.5 AS DOUBLE)
            ), hs AS (
              SELECT doc_id, i,
                     min(CAST(('0x' || substr(md5(
                       CAST(i AS VARCHAR) || '|' || shingle), 1, 8))
                       AS BIGINT)) AS h
              FROM ex, unnest(generate_series(0, 15)) AS t(i)
              GROUP BY 1, 2
            ), bnd AS (
              SELECT bb.b AS bands, doc_id, i // (16 // bb.b) AS bi,
                     CAST(('0x' || substr(md5(array_to_string(
                       list(h ORDER BY i), '|')), 1, 8)) AS BIGINT)
                       AS bh
              FROM hs, (VALUES (2), (4), (8)) bb(b)
              GROUP BY bb.b, doc_id, i // (16 // bb.b)
            ), cand AS (
              SELECT DISTINCT x.bands, x.doc_id AS a, y.doc_id AS b
              FROM bnd x JOIN bnd y
                ON x.bands = y.bands AND x.bi = y.bi AND x.bh = y.bh
               AND x.doc_id < y.doc_id
            ), nt AS (
              SELECT count(*) AS n_truth FROM truth
            ), pb AS (
              SELECT bands, count(*) AS n_cand,
                     CAST(sum(CASE WHEN t.a IS NOT NULL THEN 1
                              ELSE 0 END) AS BIGINT) AS n_hits
              FROM cand c LEFT JOIN truth t
                ON c.a = t.a AND c.b = t.b
              GROUP BY 1
            ), dim AS (
              SELECT * FROM (VALUES (2), (4), (8)) d(bands)
            ), m AS (
              SELECT dim.bands,
                     coalesce(n_cand, 0) AS n_cand,
                     coalesce(n_hits, 0) AS n_hits
              FROM dim LEFT JOIN pb USING (bands)
            )
            SELECT m.bands, n_truth, n_cand, n_hits,
                   CASE WHEN n_cand > 0 THEN
                     floor(CAST(n_hits AS DOUBLE) / n_cand * 1e6
                           + CAST(0.5 AS DOUBLE)) / 1e6 END
                     AS "precision",
                   CASE WHEN n_truth > 0 THEN
                     floor(CAST(n_hits AS DOUBLE) / n_truth * 1e6
                           + CAST(0.5 AS DOUBLE)) / 1e6 END AS recall
            FROM m, nt ORDER BY m.bands
        """,
        "dedup_clusters": """
            SELECT doc_id, doc_id - (doc_id % 9) AS cluster_id
            FROM documents WHERE doc_id < 90
        """,
        "dedup_corpus": """
            SELECT doc_id FROM documents
            WHERE doc_id >= 90 OR doc_id % 9 = 0
        """,
        "dedup_quality": """
            WITH ranked AS (
              SELECT doc_id,
                     row_number() OVER (
                       PARTITION BY doc_id - (doc_id % 9)
                       ORDER BY n_chars DESC, doc_id
                     ) AS rk
              FROM documents WHERE doc_id < 90
            )
            SELECT doc_id FROM documents WHERE doc_id >= 90
            UNION ALL
            SELECT doc_id FROM ranked WHERE rk = 1
        """,
        "dedup_simhash": f"""
            WITH {_CORPUS50_CTE},
            toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
              FROM corpus
            ), th AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT AS th,
                     ('0x' || substr(md5(tok), 9, 8))::BIGINT AS th_hi
              FROM toks
            ), bits AS (
              SELECT doc_id,
         {_SIMHASH_BITS}
              FROM th GROUP BY doc_id
            ), halves AS (
              SELECT doc_id, CAST({_SIMHASH_LO} AS BIGINT) AS lo,
                             CAST({_SIMHASH_HI} AS BIGINT) AS hi
              FROM bits
            ), sig AS (
              SELECT doc_id,
                     (hi - CASE WHEN hi >= 2147483648 THEN 4294967296
                                ELSE 0 END) * 4294967296 + lo AS sh
              FROM halves
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM sig a JOIN sig b ON a.sh = b.sh AND a.doc_id < b.doc_id
        """,
        "dedup_embedding": f"""
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + {DOC_OFFSET} AS vec_id, embedding FROM embeddings
            ), e AS (
              SELECT vec_id, embedding,
                     sqrt({_DOT.format(a="embedding", b="embedding")}) AS norm,
                     {_BKT("embedding")} AS bkt
              FROM corpus
            ), pairs AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     {_DOT.format(a="a.embedding", b="b.embedding")}
                       / (a.norm * b.norm) AS c
              FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
            )
            SELECT a, b, round(c, 6) AS cosine FROM pairs WHERE c >= 0.95
        """,
        "text_quality": f"""
            SELECT doc_id,
                   length(text) AS n_chars_computed,
                   len({_TOKS_RAW}) AS n_tokens,
                   round(CAST(list_sum(list_transform({_TOKS_RAW}, x -> length(x))) AS DOUBLE)
                         / greatest(len({_TOKS_RAW}), 1), 6) AS avg_token_len,
                   round({_SW_RATIO}, 6) AS stopword_ratio,
                   round(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   (len({_TOKS_RAW}) >= 5
                    AND CAST(list_sum(list_transform({_TOKS_RAW}, x -> length(x))) AS DOUBLE)
                        / greatest(len({_TOKS_RAW}), 1) BETWEEN 2 AND 12
                    AND {_SW_RATIO} >= 0.01) AS quality_ok
            FROM documents
        """,
        "text_langid": f"""
            SELECT doc_id, round({_SW_RATIO}, 6) AS en_ratio,
                   CASE WHEN {_SW_RATIO} >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred
            FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(lower(text)) AS md5 FROM documents
        """,
        "text_pii": f"""
            WITH d AS (
              SELECT doc_id,
                     text || ' mail user' || doc_id || '@example.com ip 10.0.'
                          || (doc_id % 200) || '.7'
                          || CASE WHEN doc_id % 2 = 0
                                  THEN ' tel 555-123-4567 ssn 123-45-6789'
                                  ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["ipv4"]}')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["ssn"]}')) AS BIGINT) AS n_ssn,
                   md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                       '{TX.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                       '{TX.PII_PATTERNS["ssn"]}', '<SSN>', 'g'),
                       '{TX.PII_PATTERNS["phone"]}', '<PHONE>', 'g'),
                       '{TX.PII_PATTERNS["ipv4"]}', '<IPV4>', 'g')) AS redacted_md5
            FROM d
        """,
        "text_classifier": f"""
            WITH w AS (
              SELECT doc_id,
                     round(list_sum(list_sort(list_transform({_TOKS},
                             x -> ('0x' || substr(md5(x), 1, 8))::BIGINT
                                  / 4294967296.0 - 0.5)))
                           / greatest(len({_TOKS}), 1), 6) AS score
              FROM documents
            )
            SELECT doc_id, score,
                   CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
            FROM w
        """,
        "dedup_paragraph": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), chunks AS (
              SELECT doc_id, i AS idx,
                     array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
              FROM toks,
                   UNNEST(range(greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1)))
                     AS u(i)
            ), ranked AS (
              SELECT doc_id, idx, chunk,
                     row_number() OVER (PARTITION BY md5(chunk)
                                        ORDER BY doc_id, idx) AS rn
              FROM chunks
            )
            SELECT doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END,
                                           ' ' ORDER BY idx), '')) AS kept_md5
            FROM ranked GROUP BY doc_id
        """,
        "data_pack": f"""
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     CAST(len({_TOKS_RAW}) AS BIGINT) AS n_tokens,
                     CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % {DO.SAMPLE_MOD}) % 16 AS INT) AS grp
              FROM documents
            ), ordered AS (
              SELECT doc_id, n_tokens, grp,
                     row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
              FROM toks
            ), packed AS (
              SELECT grp, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT o.grp, o.rn, o.doc_id, o.n_tokens,
                     CASE WHEN p.fill + o.n_tokens <= 256
                          THEN p.bin_id ELSE p.bin_id + 1 END,
                     CASE WHEN p.fill + o.n_tokens <= 256
                          THEN p.fill + o.n_tokens ELSE o.n_tokens END
              FROM packed p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1
            )
            SELECT doc_id, grp, n_tokens, bin_id FROM packed
        """,
        "data_dsir": f"""
            WITH toks AS (
              SELECT doc_id, source, {_TOKS} AS t FROM documents
            ), grams AS (
              SELECT doc_id, source,
                     unnest(list_concat(
                       t,
                       [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
                     )) AS g
              FROM toks
            ), bk AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
              FROM grams
            ), fq AS (
              SELECT b, count(*) AS c_q FROM bk GROUP BY b
            ), fp AS (
              SELECT b, count(*) AS c_p FROM bk WHERE source = 'src0'
              GROUP BY b
            ), tq AS (SELECT sum(c_q) AS tot_q FROM fq),
            tp AS (SELECT sum(c_p) AS tot_p FROM fp),
            ratio AS (
              SELECT b,
                     round(ln((coalesce(c_p, 0) + 1.0)
                              / (tot_p + 4096.0))
                           - ln((coalesce(c_q, 0) + 1.0)
                                / (tot_q + 4096.0)), 6) AS lratio
              FROM fq FULL JOIN fp USING (b) CROSS JOIN tq CROSS JOIN tp
            ), feats AS (
              SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2
            ), pd AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
                     round(list_reduce(
                       list_sort(list(round(c * lratio, 6))),
                       (a, b) -> a + b), 6) AS log_weight
              FROM feats JOIN ratio USING (b) GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(pd.n_feats, 0) AS n_feats,
                   pd.log_weight
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "text_lm": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), bi AS (
              SELECT doc_id, t[i] AS w1, t[i+1] AS w2
              FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                    FROM toks)
            ), bc AS (
              SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2
            ), cc AS (
              SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1
            ), v AS (
              SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(t) AS tok FROM toks)
            ), nl AS (
              -- floor(x*1e6+0.5)/1e6, not round(): the Spark side uses the
              -- same explicit half-up so both engines agree at exact .5
              -- decimal boundaries (see textops.bigram_lm_score docstring)
              SELECT b.doc_id,
                     floor((-ln((coalesce(bc.c12, 0) + 1.0)
                                / (coalesce(cc.c1, 0) + 1.0 * v.v)))
                           * 1e6 + 0.5) / 1e6 AS nll
              FROM bi b LEFT JOIN bc USING (w1, w2)
                        LEFT JOIN cc USING (w1) CROSS JOIN v
            ), pd AS (
              SELECT doc_id, count(*) AS n_bigrams,
                     floor((list_reduce(list_sort(list(nll)),
                                        (a, b) -> a + b) / count(*))
                           * 1e6 + 0.5) / 1e6 AS xent
              FROM nl GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(pd.n_bigrams, 0) AS n_bigrams,
                   pd.xent,
                   coalesce(pd.xent <= 12.0, TRUE) AS lm_ok
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "text_repetition": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), narrow AS (
              SELECT doc_id,
                     round(CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
                           / greatest(len(g), 1), 6) AS dup_3gram_frac
              FROM (SELECT doc_id,
                           [array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)] AS g
                    FROM toks)
            ), wc AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS g FROM toks) GROUP BY 1, 2
            ), w1 AS (
              SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                       AS top_word_frac
              FROM wc GROUP BY doc_id
            ), bc AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id,
                           unnest([array_to_string(t[i:i+1], ' ')
                                   for i in range(1, greatest(len(t) - 1, 1) + 1)]) AS g
                    FROM toks) GROUP BY 1, 2
            ), w2 AS (
              SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                       AS top_2gram_frac
              FROM bc GROUP BY doc_id
            )
            SELECT n.doc_id, n.dup_3gram_frac, w1.top_word_frac, w2.top_2gram_frac,
                   (n.dup_3gram_frac <= 0.5 AND w1.top_word_frac <= 0.3
                    AND w2.top_2gram_frac <= 0.2) AS repetition_ok
            FROM narrow n JOIN w1 USING (doc_id) JOIN w2 USING (doc_id)
        """,
        "data_decontaminate": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+4], ' ')
                            for i in range(1, greatest(len(t) - 4, 1) + 1)])) AS g
              FROM toks
            ), bench AS (
              SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0
            ), hits AS (
              SELECT doc_id, count(*) AS n_contam
              FROM grams JOIN bench USING (g)
              WHERE doc_id % 29 != 0 GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_contam, 0) AS BIGINT) AS n_contam,
                   coalesce(h.n_contam, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 29 != 0
        """,
        "data_funnel": f"""
            WITH train AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 29 != 0
            ), base AS (
              SELECT doc_id, len({_TOKS_RAW}) AS n_tokens FROM train
            ), q AS (
              SELECT doc_id,
                     (len({_TOKS_RAW}) >= 5
                      AND CAST(list_sum(list_transform({_TOKS_RAW}, x -> length(x))) AS DOUBLE)
                          / greatest(len({_TOKS_RAW}), 1) BETWEEN 2 AND 12
                      AND {_SW_RATIO} >= 0.01) AS quality_ok
              FROM train
            ), toks AS (
              SELECT doc_id, {_TOKS} AS t FROM train
            ), narrow AS (
              SELECT doc_id,
                     round(CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
                           / greatest(len(g), 1), 6) AS dup_3gram_frac
              FROM (SELECT doc_id,
                           [array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)] AS g
                    FROM toks)
            ), wc AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS g FROM toks) GROUP BY 1, 2
            ), w1 AS (
              SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                       AS top_word_frac
              FROM wc GROUP BY doc_id
            ), bc AS (
              SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id,
                           unnest([array_to_string(t[i:i+1], ' ')
                                   for i in range(1, greatest(len(t) - 1, 1) + 1)]) AS g
                    FROM toks) GROUP BY 1, 2
            ), w2 AS (
              SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                       AS top_2gram_frac
              FROM bc GROUP BY doc_id
            ), r AS (
              SELECT n.doc_id,
                     (n.dup_3gram_frac <= 0.5 AND w1.top_word_frac <= 0.3
                      AND w2.top_2gram_frac <= 0.2) AS repetition_ok
              FROM narrow n JOIN w1 USING (doc_id) JOIN w2 USING (doc_id)
            ), p1 AS (
              SELECT doc_id FROM q WHERE quality_ok
            ), p2 AS (
              SELECT doc_id FROM p1 JOIN r USING (doc_id) WHERE repetition_ok
            ), k AS (
              SELECT doc_id FROM (
                SELECT t.doc_id,
                       row_number() OVER (PARTITION BY md5(t.text)
                                          ORDER BY t.doc_id) AS rn
                FROM train t JOIN p2 USING (doc_id)
              ) WHERE rn = 1
            ), allgrams AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t2[i:i+4], ' ')
                            for i in range(1, greatest(len(t2) - 4, 1) + 1)])) AS g
              FROM (SELECT doc_id, {_TOKS} AS t2 FROM documents)
            ), bench AS (
              SELECT DISTINCT g FROM allgrams WHERE doc_id % 29 = 0
            ), contam AS (
              SELECT DISTINCT a.doc_id
              FROM allgrams a JOIN bench USING (g) JOIN k USING (doc_id)
            ), p4 AS (
              SELECT doc_id FROM k
              WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            )
            SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
            FROM base
            UNION ALL SELECT 1, 'quality', count(*),
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
            FROM base JOIN p1 USING (doc_id)
            UNION ALL SELECT 2, 'repetition', count(*),
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
            FROM base JOIN p2 USING (doc_id)
            UNION ALL SELECT 3, 'dedup_exact', count(*),
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
            FROM base JOIN k USING (doc_id)
            UNION ALL SELECT 4, 'decontaminated', count(*),
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
            FROM base JOIN p4 USING (doc_id)
        """,
        "text_token_stats": f"""
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(len({_TOKS_RAW})) AS BIGINT) AS sum_tokens,
                   CAST(sum(len({_TOKS_RAW})) AS DOUBLE) / count(*) AS avg_tokens,
                   max(len({_TOKS_RAW})) AS max_tokens
            FROM documents GROUP BY 1
        """,
        "sim_cosine_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, round({_COSINE}, 6) AS cosine
            FROM embeddings e, q
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "sim_ann_lsh_topk": f"""
            WITH q AS (SELECT embedding AS qe, {_BKT("embedding")} AS qbkt
                       FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id, round({_COSINE}, 6) AS cosine
            FROM embeddings e, q
            WHERE bit_count(xor(CAST({_BKT("e.embedding")} AS BIGINT),
                                CAST(q.qbkt AS BIGINT))) <= 1
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "sim_ann_ivf_topk": """
            WITH c AS (
              SELECT vec_id AS cid, embedding AS ce FROM embeddings
              WHERE vec_id < 16
            ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            sims AS (
              SELECT e.vec_id, e.embedding, c.cid,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(c.ce AS DOUBLE[]))
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                                      CAST(c.ce AS DOUBLE[])))),
                           6) AS sim
              FROM embeddings e CROSS JOIN c
            ), assigned AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, cid ASC) AS rn
                FROM sims
              ) WHERE rn = 1
            ), probe AS (
              SELECT cid AS cell FROM (
                SELECT c.cid,
                       round(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                              CAST(q.qe AS DOUBLE[]))
                             / (sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                                      CAST(c.ce AS DOUBLE[])))
                                * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
                                                        CAST(q.qe AS DOUBLE[])))),
                             6) AS qsim
                FROM c CROSS JOIN q
                ORDER BY qsim DESC, cid ASC LIMIT 4
              )
            )
            SELECT e.vec_id,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.qe AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
                                                    CAST(q.qe AS DOUBLE[])))),
                         6) AS cosine
            FROM assigned e
            JOIN probe p ON e.cell = p.cell, q
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "sim_ann_ivf_trained": _kmeans_ivf_sql(k=8, iters=2, probe=4),
        "dedup_semantic": _semantic_dedup_sql(k=8, iters=2, threshold=0.92),
        "media_kind_stats": f"""
            SELECT split_part(s.media_ref, '://', 1) AS media_kind,
                   count(*) AS n_media, count(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id, unnest(spans) AS s FROM '{docs}')
            WHERE s.media_ref <> '' GROUP BY 1
        """,
        "media_feature_bytes": f"""
            SELECT doc_id, s.media_ref AS media_ref,
                   CAST(length(s.media_ref) AS BIGINT) AS n_bytes
            FROM (SELECT doc_id, unnest(spans) AS s FROM '{docs}')
            WHERE s.media_ref <> ''
        """,
        "media_dedup": f"""
            WITH base AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     s.media_ref AS media_ref
              FROM (SELECT doc_id, unnest(spans) AS s FROM '{docs}')
              WHERE s.media_ref <> ''
            ), m AS (
              SELECT doc_id, media_ref FROM base
              UNION ALL
              SELECT doc_id || '~dup', media_ref FROM base
            ), h AS (
              SELECT doc_id, media_ref, md5(media_ref) AS content_md5,
                     row_number() OVER (PARTITION BY md5(media_ref)
                       ORDER BY doc_id, media_ref) AS rk
              FROM m
            )
            SELECT content_md5, count(*) AS n_copies,
                   count(DISTINCT doc_id) AS n_docs,
                   min(CASE WHEN rk = 1 THEN doc_id END)
                     AS keeper_doc,
                   min(CASE WHEN rk = 1 THEN media_ref END)
                     AS keeper_ref
            FROM h GROUP BY 1 HAVING count(*) > 1
            ORDER BY content_md5
        """,
        "events_hourly": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   count(*) AS n,
                   min(value) AS min_value, max(value) AS max_value
            FROM events GROUP BY 1, 2
        """,
        "events_cube": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   CAST(coalesce(hr, -1) AS INT) AS hr,
                   count(*) AS n,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hr, value
                  FROM events)
            GROUP BY CUBE (event_type, hr)
        """,
        "events_sessions": """
            WITH lagged AS (
              SELECT user_id, ts, event_id, event_type, props,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ), marked AS (
              SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000
                             THEN 1 ELSE 0 END AS new_s
              FROM lagged
            ), sessioned AS (
              SELECT *, sum(new_s) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM marked
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
                     AS duration_us,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k
            FROM sessioned GROUP BY 1, 2
        """,
        "events_asof": """
            WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 v AS (SELECT event_id AS view_event_id, user_id,
                              epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id, p.ts_us,
                   coalesce(v.view_event_id, -1) AS view_event_id,
                   CAST(coalesce(p.ts_us - v.ts_us, -1) AS BIGINT) AS gap_us
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        """,
        "events_range": """
            WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 v AS (SELECT event_id AS view_event_id, user_id,
                              epoch_us(ts) AS view_lo
                       FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id, p.ts_us, v.view_event_id,
                   CAST(p.ts_us - v.view_lo AS BIGINT) AS gap_us
            FROM p JOIN v
              ON p.user_id = v.user_id
             AND p.ts_us >= v.view_lo
             AND p.ts_us <= v.view_lo + 600000000
        """,
        "events_rollup": """
            WITH base AS (
              SELECT event_type, epoch_us(ts) AS ts_us,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            ), lvl AS (
              SELECT CAST(60000000 AS BIGINT) AS resolution, event_type,
                     (ts_us // 60000000) * 60000000 AS bucket_start, k
              FROM base
              UNION ALL
              SELECT 3600000000, event_type,
                     (ts_us // 3600000000) * 3600000000, k FROM base
              UNION ALL
              SELECT 86400000000, event_type,
                     (ts_us // 86400000000) * 86400000000, k FROM base
            )
            SELECT resolution, event_type, bucket_start,
                   count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_v,
                   min(k) AS min_v, max(k) AS max_v
            FROM lvl GROUP BY 1, 2, 3
        """,
        "sketch_quantiles": """
            WITH s AS (
              SELECT CAST(n_chars AS DOUBLE) AS v,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents ORDER BY h LIMIT 256
            ),
            r AS (
              SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                     count(*) OVER () AS n
              FROM s
            )
            SELECT qv.q, r.v AS est, CAST(r.n AS BIGINT) AS n_sample
            FROM r JOIN (VALUES (0.25), (0.5), (0.75), (0.9)) qv(q)
              ON r.rn = greatest(1, CAST(ceil(qv.q * r.n) AS BIGINT))
        """,
        "sketch_kmv": """
            WITH h AS (
              SELECT DISTINCT source,
                     ('0x' || substr(md5(text), 1, 8))::BIGINT AS hh
              FROM documents
            ), r AS (
              SELECT source, hh,
                     row_number() OVER (PARTITION BY source ORDER BY hh)
                       AS rn
              FROM h
            ), s AS (
              SELECT source, count(*) AS n_sketch, max(hh) AS kth_hash
              FROM r WHERE rn <= 16 GROUP BY source
            )
            SELECT source, n_sketch, kth_hash,
                   CAST(CASE WHEN n_sketch < 16 THEN n_sketch
                        ELSE (15 * 4294967296) // greatest(kth_hash, 1)
                        END AS BIGINT) AS distinct_est,
                   n_sketch < 16 AS is_exact
            FROM s
        """,
        "events_scd2": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
              FROM events
            ), lagged AS (
              SELECT *,
                     lag(event_type) OVER w AS prev,
                     row_number() OVER w AS rn
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), kept AS (
              SELECT * FROM lagged
              WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            ), dated AS (
              SELECT user_id, event_type, ts_us AS valid_from,
                     lead(ts_us) OVER w2 AS valid_to,
                     row_number() OVER w2 AS version
              FROM kept
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            )
            SELECT user_id, event_type,
                   valid_from AS valid_from_us,
                   coalesce(valid_to, -1) AS valid_to_us,
                   valid_to IS NULL AS is_current,
                   CAST(version AS BIGINT) AS version
            FROM dated
        """,
        "events_agg_incremental": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_v,
                   min(k) AS min_v, max(k) AS max_v
            FROM (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            )
            GROUP BY event_type
        """,
        "join_salted": """
            WITH dim AS (
              SELECT DISTINCT event_type,
                     CAST(length(event_type) AS BIGINT) AS w
              FROM events
            )
            SELECT e.event_type, count(*) AS n, max(d.w) AS w,
                   round(min(e.value), 6) AS min_value,
                   round(max(e.value), 6) AS max_value
            FROM events e JOIN dim d USING (event_type)
            GROUP BY e.event_type
        """,
        "join_bloom_prune": """
            SELECT l_returnflag, count(*) AS n,
                   sum(l_quantity) AS sum_qty
            FROM lineitem
            WHERE l_orderkey IN (
              SELECT o_orderkey FROM orders
              WHERE o_orderpriority = '1-URGENT'
            )
            GROUP BY l_returnflag
        """,
        "doc_length_pcts": """
            WITH hist AS (
              SELECT source, CAST(length(text) AS BIGINT) AS v,
                     count(*) AS c
              FROM documents GROUP BY 1, 2
            ), cum AS (
              SELECT source, v, c,
                     sum(c) OVER (PARTITION BY source ORDER BY v)
                       AS cumc,
                     sum(c) OVER (PARTITION BY source) AS n
              FROM hist
            ), probed AS (
              SELECT source, v, c, cumc, n, pct
              FROM cum, unnest([25, 50, 90, 99]) AS t(pct)
            )
            SELECT source, pct, v AS value, CAST(n AS BIGINT) AS n
            FROM probed
            WHERE cumc >= greatest(1, (n * pct + 99) // 100)
              AND cumc - c < greatest(1, (n * pct + 99) // 100)
        """,
        "data_domain_cap": """
            SELECT doc_id, source FROM documents
            QUALIFY row_number() OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) <= 10
        """,
        "text_inverted_index": """
            WITH tok AS (
              SELECT DISTINCT doc_id AS doc, term
              FROM documents,
                   unnest(string_split_regex(trim(text), '\\s+'))
                     AS t(term)
              WHERE term <> ''
            ), census AS (
              SELECT term, count(*) AS df FROM tok GROUP BY term
              HAVING count(*) <= 395
            ), idx AS (
              SELECT t.term, c.df,
                     string_agg(CAST(t.doc AS VARCHAR), ','
                                ORDER BY t.doc) AS postings
              FROM tok t JOIN census c USING (term)
              GROUP BY t.term, c.df
            )
            SELECT df, count(*) AS n_terms,
                   CAST(sum(length(postings)) AS BIGINT)
                     AS postings_chars,
                   md5(string_agg(term || ':' || postings, '|'
                                  ORDER BY term || ':' || postings))
                     AS content_md5
            FROM idx GROUP BY df
        """,
        "text_bm25": """
            WITH tok AS (
              SELECT doc_id AS doc, term
              FROM documents,
                   unnest(string_split_regex(trim(text), '\\s+'))
                     AS t(term)
              WHERE term != ''
            ), dl AS (
              SELECT doc, count(*) AS dl FROM tok GROUP BY 1
            ), st AS (
              SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS n
              FROM dl
            ), tf AS (
              SELECT doc, term, count(*) AS tf FROM tok
              WHERE term IN ('hash', 'merge', 'vector') GROUP BY 1, 2
            ), dfc AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), parts AS (
              SELECT tf.doc,
                     CAST(floor(
                       round(ln(1 + (st.n - dfc.df + 0.5)
                                    / (dfc.df + 0.5)), 6)
                       * ((tf.tf * 2.2)
                          / (tf.tf + 1.2 * (0.25 + 0.75
                               * (dl.dl / st.avgdl))))
                       * 1e6 + 0.5) AS BIGINT) AS part_i
              FROM tf
              JOIN dfc USING (term)
              JOIN dl USING (doc)
              CROSS JOIN st
            )
            SELECT doc, sum(part_i) / 1e6 AS score
            FROM parts GROUP BY doc
            ORDER BY score DESC, doc
            LIMIT 10
        """,
        "text_tfidf": """
            WITH tok AS (
              SELECT doc_id AS doc, term
              FROM documents,
                   unnest(string_split_regex(trim(text), '\\s+'))
                     AS t(term)
              WHERE term <> ''
            ), tf AS (
              SELECT doc, term, count(*) AS tf
              FROM tok GROUP BY doc, term
            ), dfc AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), n AS (
              SELECT count(DISTINCT doc_id) AS n_docs FROM documents
            ), scored AS (
              SELECT tf.doc, tf.term, tf.tf, dfc.df,
                     round(tf.tf * round(
                       ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0, 6
                     ), 6) AS tfidf
              FROM tf JOIN dfc USING (term) CROSS JOIN n
            )
            SELECT doc, term, tf, df, tfidf,
                   CAST(rank AS INTEGER) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc ORDER BY tfidf DESC, term
              ) AS rank
              FROM scored
            )
            WHERE rank <= 3
        """,
        "events_zorder": f"""
            WITH e AS (
              SELECT user_id AS x,
                     epoch_us(ts) // 3600000000 AS y
              FROM events
            )
            SELECT {_ZORDER_SQL} // 16384 AS zb,
                   count(*) AS n,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y
            FROM e GROUP BY 1
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS count_order,
                   sum(l_quantity) AS sum_qty,
                   sum(l_quantity) / count(*) AS avg_qty,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price
            FROM lineitem GROUP BY 1, 2
        """,
        "tpch_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "events_pivot": """
            SELECT CAST(hour(ts) AS INT) AS hr,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase')
                     AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "events_funnel": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
            ),
            s0 AS (
              SELECT *, CASE WHEN event_type = 'signup' THEN ts_us END AS q0
              FROM e
            ),
            s1 AS (
              SELECT *, CASE WHEN event_type = 'click'
                              AND min(q0) OVER w IS NOT NULL
                         THEN ts_us END AS q1
              FROM s0
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
            ),
            s2 AS (
              SELECT *, CASE WHEN event_type = 'purchase'
                              AND min(q1) OVER w IS NOT NULL
                         THEN ts_us END AS q2
              FROM s1
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
            ),
            pu AS (
              SELECT user_id, min(q0) AS t0, min(q1) AS t1, min(q2) AS t2
              FROM s2 GROUP BY 1
            ),
            c AS (
              SELECT count(t0) AS c0, count(t1) AS c1, count(t2) AS c2
              FROM pu
            )
            SELECT 0 AS stage, 'signup' AS step, c0 AS users,
                   CAST(1.0 AS DOUBLE) AS conv FROM c
            UNION ALL
            SELECT 1, 'click', c1,
                   coalesce(round(CAST(c1 AS DOUBLE) / nullif(c0, 0), 6),
                            CAST(0.0 AS DOUBLE)) FROM c
            UNION ALL
            SELECT 2, 'purchase', c2,
                   coalesce(round(CAST(c2 AS DOUBLE) / nullif(c1, 0), 6),
                            CAST(0.0 AS DOUBLE)) FROM c
        """,
        "top_orders_per_cust": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                       AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "nation_order_stats": """
            SELECT n_name,
                   count(*) AS n_orders,
                   count(DISTINCT c_custkey) AS n_customers,
                   max(o_totalprice) AS max_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
    }
    # the materialized-index probe returns exactly what the on-the-fly
    # probe returns (same buckets, same multi-probe set) — shared oracle
    sql["sim_ann_lsh_indexed"] = sql["sim_ann_lsh_topk"]
    # IVF-PQ oracle: coarse probe (the proven IVF CTEs) + product-
    # quantization codes and ADC ranking, all derived from the data. The
    # d2 composition (xx - 2*xy + yy from list_dot_product, rounded 6)
    # and first-index argmin tie-break mirror similarity.pq_encode.
    M, SUBD = 4, 16
    dd = "CAST({} AS DOUBLE[])"
    code_ctes, lut_ctes, code_joins, lut_joins = [], [], [], []
    for m in range(M):
        lo, hi = m * SUBD + 1, (m + 1) * SUBD
        es = dd.format(f"e.embedding[{lo}:{hi}]")
        cs = dd.format(f"c.ce[{lo}:{hi}]")
        qs = dd.format(f"q.qe[{lo}:{hi}]")
        code_ctes.append(f"""
        code{m} AS (
          SELECT vec_id, cid AS code FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(list_dot_product({es}, {es})
                                    - 2 * list_dot_product({es}, {cs})
                                    + list_dot_product({cs}, {cs}), 6) ASC,
                              c.cid ASC) AS rn
            FROM cand e CROSS JOIN c
          ) WHERE rn = 1)""")
        lut_ctes.append(f"""
        lut{m} AS (
          SELECT c.cid,
                 round(list_dot_product({qs}, {qs})
                       - 2 * list_dot_product({qs}, {cs})
                       + list_dot_product({cs}, {cs}), 6) AS d2
          FROM c CROSS JOIN q)""")
        code_joins.append(f"JOIN code{m} ON code{m}.vec_id = cand.vec_id")
        lut_joins.append(f"JOIN lut{m} ON lut{m}.cid = code{m}.code")
    adc = " + ".join(f"lut{m}.d2" for m in range(M))
    sql["sim_ann_ivfpq_topk"] = f"""
        WITH c AS (
          SELECT vec_id AS cid, embedding AS ce FROM embeddings
          WHERE vec_id < 16
        ), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        sims AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(c.ce AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                                  CAST(c.ce AS DOUBLE[])))),
                       6) AS sim
          FROM embeddings e CROSS JOIN c
        ), assigned AS (
          SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid ASC) AS rn
            FROM sims
          ) WHERE rn = 1
        ), probe AS (
          SELECT cid AS cell FROM (
            SELECT c.cid,
                   round(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                          CAST(q.qe AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]),
                                                  CAST(c.ce AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
                                                    CAST(q.qe AS DOUBLE[])))),
                         6) AS qsim
            FROM c CROSS JOIN q
            ORDER BY qsim DESC, cid ASC LIMIT 4
          )
        ), cand AS (
          SELECT a.vec_id, a.embedding FROM assigned a
          JOIN probe p ON a.cell = p.cell
        ),{",".join(code_ctes)},{",".join(lut_ctes)}
        SELECT cand.vec_id, round({adc}, 6) AS approx_d2
        FROM cand
        {" ".join(code_joins)}
        {" ".join(lut_joins)}
        ORDER BY approx_d2 ASC, cand.vec_id ASC LIMIT 10
    """
    # recall@10 harness: composed from the three proven top-k bodies
    # above (DuckDB allows WITH inside a FROM subquery), joined on vec_id
    probe_flips = ", ".join(
        f"xor(bkt0, {1 << i})" for i in range(LSH_PLANES)
    )
    sql["search_hybrid"] = f"""
        WITH tok AS (
          SELECT doc_id AS doc, term
          FROM documents,
               unnest(string_split_regex(trim(text), '\\s+')) AS t(term)
          WHERE term != ''
        ), dl AS (
          SELECT doc, count(*) AS dl FROM tok GROUP BY 1
        ), st AS (
          SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                 count(*) AS n
          FROM dl
        ), tf AS (
          SELECT doc, term, count(*) AS tf FROM tok
          WHERE term IN ('hash', 'merge', 'vector') GROUP BY 1, 2
        ), dfc AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), bparts AS (
          SELECT tf.doc,
                 CAST(floor(
                   round(ln(1 + (st.n - dfc.df + 0.5)
                                / (dfc.df + 0.5)), 6)
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25 + 0.75
                           * (dl.dl / st.avgdl))))
                   * 1e6 + 0.5) AS BIGINT) AS part_i
          FROM tf JOIN dfc USING (term) JOIN dl USING (doc)
          CROSS JOIN st
        ), bm AS (
          SELECT doc, sum(part_i) / 1e6 AS score
          FROM bparts GROUP BY doc ORDER BY score DESC, doc LIMIT 20
        ), bm_ranked AS (
          SELECT doc, CAST(row_number() OVER (
            ORDER BY score DESC, doc) AS INT) AS rank
          FROM bm
        ), c AS (
          SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS nvec,
                 {_BKT("embedding")} AS bkt
          FROM embeddings
        ), q0 AS (
          SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qvec,
                 {_BKT("embedding")} AS bkt0
          FROM embeddings WHERE vec_id = 0
        ), probes AS (
          SELECT q_id, qvec,
                 unnest([bkt0, {", ".join(f"xor(bkt0, {1 << i})" for i in range(LSH_PLANES))}]) AS bkt
          FROM q0
        ), cand AS (
          SELECT q_id, nbr_id,
                 round(list_dot_product(qvec, nvec)
                       / (sqrt(list_dot_product(qvec, qvec))
                          * sqrt(list_dot_product(nvec, nvec))), 6)
                   AS cosine
          FROM probes JOIN c USING (bkt)
          WHERE q_id != nbr_id
        ), kn AS (
          SELECT nbr_id AS doc, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, nbr_id) AS INT)
            AS rank
          FROM cand QUALIFY rank <= 20
        ), fused AS (
          SELECT doc,
                 CAST(floor(1e6 / (60.0 + rank) + 0.5) AS BIGINT)
                   AS rrf_i
          FROM (SELECT * FROM bm_ranked UNION ALL SELECT * FROM kn)
        )
        SELECT doc, sum(rrf_i) / 1e6 AS rrf, count(*) AS n_systems
        FROM fused GROUP BY doc
        ORDER BY rrf DESC, doc
        LIMIT 10
    """
    sql["sim_knn_join"] = f"""
        WITH c AS (
          SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS nvec,
                 {_BKT("embedding")} AS bkt
          FROM embeddings
        ), q0 AS (
          SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qvec,
                 {_BKT("embedding")} AS bkt0
          FROM embeddings WHERE vec_id < 8
        ), probes AS (
          SELECT q_id, qvec,
                 unnest([bkt0, {probe_flips}]) AS bkt
          FROM q0
        ), cand AS (
          SELECT q_id, nbr_id,
                 round(list_dot_product(qvec, nvec)
                       / (sqrt(list_dot_product(qvec, qvec))
                          * sqrt(list_dot_product(nvec, nvec))), 6)
                   AS cosine
          FROM probes JOIN c USING (bkt)
          WHERE q_id != nbr_id
        ), r AS (
          SELECT q_id, nbr_id, cosine,
                 CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, nbr_id
                 ) AS INT) AS rank
          FROM cand
        )
        SELECT q_id, nbr_id, cosine, rank FROM r WHERE rank <= 5
    """
    sql["sim_ann_recall"] = f"""
        SELECT * FROM (
          SELECT 'lsh' AS method, CAST(10 AS BIGINT) AS k,
                 count(*) AS hits, count(*) / 10.0 AS recall
          FROM ({sql["sim_ann_lsh_topk"]}) a
          JOIN ({sql["sim_cosine_topk"]}) e USING (vec_id)
          UNION ALL
          SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS k,
                 count(*) AS hits, count(*) / 10.0 AS recall
          FROM ({sql["sim_ann_ivf_topk"]}) a
          JOIN ({sql["sim_cosine_topk"]}) e USING (vec_id)
          UNION ALL
          SELECT 'ivfpq' AS method, CAST(10 AS BIGINT) AS k,
                 count(*) AS hits, count(*) / 10.0 AS recall
          FROM ({sql["sim_ann_ivfpq_topk"]}) a
          JOIN ({sql["sim_cosine_topk"]}) e USING (vec_id)
        ) ORDER BY method
    """

    def _trunc_topk(d: int) -> str:
        sl = f"list_slice(e.embedding, 1, {d})"
        dot_eq = _DOT.format(a=sl, b="q.qe")
        dot_ee = _DOT.format(a=sl, b=sl)
        dot_qq = _DOT.format(a="q.qe", b="q.qe")
        return f"""
          WITH q AS (SELECT list_slice(embedding, 1, {d}) AS qe
                     FROM embeddings WHERE vec_id = 0)
          SELECT e.vec_id,
                 round({dot_eq}
                       / (sqrt({dot_ee}) * sqrt({dot_qq})), 6) AS cosine
          FROM embeddings e, q
          ORDER BY cosine DESC, vec_id LIMIT 10
        """

    _trunc_branches = " UNION ALL ".join(
        f"""SELECT CAST({d} AS INT) AS dim, CAST(10 AS BIGINT) AS k,
                  count(*) AS hits, count(*) / 10.0 AS recall
           FROM ({_trunc_topk(d)}) a
           JOIN ({sql["sim_cosine_topk"]}) e USING (vec_id)"""
        for d in (8, 16, 32)
    )
    sql["sim_dim_truncation"] = f"""
        SELECT * FROM ({_trunc_branches}) ORDER BY dim
    """
    sql["data_skew_probe"] = """
        WITH h AS (
          SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) AS h
          FROM events
        ), pb AS (
          SELECT n_parts, h % n_parts AS b, count(*) AS c
          FROM h, (VALUES (8), (32), (128)) w(n_parts)
          GROUP BY 1, 2
        )
        SELECT n_parts, count(*) AS n_buckets_used,
               CAST(max(c) AS BIGINT) AS max_rows,
               CAST(sum(c) AS BIGINT) AS n_rows,
               floor(CAST(max(c) * n_parts AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE) * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS skew
        FROM pb GROUP BY 1 ORDER BY 1
    """
    sql["events_cdc"] = """
        WITH r AS (
          SELECT user_id, ts, event_type,
                 CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                      AS BIGINT) AS v_cents,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rk,
                 count(*) OVER (PARTITION BY user_id) AS n_changes
          FROM events
        )
        SELECT user_id,
               CAST(v_cents AS DOUBLE) / 100.0 AS last_value,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               CAST(n_changes AS BIGINT) AS n_changes
        FROM r
        WHERE rk = 1 AND event_type <> 'error'
        ORDER BY user_id
    """
    sql["join_fanout_probe"] = """
        WITH cen AS (
          SELECT user_id, count(*) AS n,
                 count(*) * count(*) AS contrib
          FROM events GROUP BY 1
        ), t5 AS (
          SELECT * FROM cen ORDER BY contrib DESC, user_id LIMIT 5
        ), t AS (
          SELECT CAST(sum(contrib) AS BIGINT) AS predicted_rows,
                 count(*) AS n_keys
          FROM cen
        ), h AS (
          SELECT CAST(sum(contrib) AS BIGINT) AS top5_rows FROM t5
        ), hk AS (
          SELECT user_id AS hottest_key, CAST(n AS BIGINT) AS hottest_n
          FROM t5 ORDER BY contrib DESC, user_id LIMIT 1
        )
        SELECT predicted_rows, n_keys, top5_rows,
               floor(CAST(top5_rows AS DOUBLE)
                     / CAST(predicted_rows AS DOUBLE) * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS top5_share,
               hottest_key, hottest_n
        FROM t, h, hk
    """
    sql["events_top_paths"] = """
        WITH p AS (
          SELECT user_id,
                 lag(event_type, 2) OVER w AS t1,
                 lag(event_type, 1) OVER w AS t2,
                 event_type AS t3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT t1, t2, t3, count(*) AS n
        FROM p WHERE t1 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """
    # Noctua layout oracle: the deterministic SemanticNoctuaLayout
    # re-expression (layout.py) as one recursive-CTE query. trunc() not
    # CAST for the circle coordinates — DuckDB CAST rounds, Java/Spark
    # double->long truncates.
    lay_causal = "', '".join([
        V.DIRECTLY_NEG_REGULATES, V.DIRECTLY_POS_REGULATES,
        V.DIRECTLY_NEG_REGULATED_BY, V.DIRECTLY_POS_REGULATED_BY,
        V.PROVIDES_INPUT, V.CAUSALLY_UPSTREAM,
    ])
    sql["kg_layout"] = f"""
        WITH RECURSIVE
        me AS (SELECT DISTINCT model_id, subj AS node FROM '{tri}'
               WHERE pred = '{V.TYPE}' AND obj = '{V.MOLECULAR_EVENT}'),
        pf AS (SELECT DISTINCT t.model_id, t.subj AS node, t.obj AS pathway
               FROM '{tri}' t
               JOIN me ON t.model_id = me.model_id AND t.subj = me.node
               WHERE t.pred = '{V.PART_OF}'),
        pathways AS (SELECT DISTINCT model_id, pathway AS node FROM pf),
        reactions AS (SELECT DISTINCT model_id, node FROM pf),
        causal AS (SELECT DISTINCT model_id, subj, obj FROM '{tri}'
                   WHERE pred IN ('{lay_causal}')),
        deg AS (
          SELECT r.model_id, r.node,
                 coalesce(i.c, 0) AS in_deg, coalesce(o.c, 0) AS out_deg
          FROM reactions r
          LEFT JOIN (SELECT model_id, subj AS node, count(*) AS c
                     FROM causal GROUP BY 1, 2) o
                 ON o.model_id = r.model_id AND o.node = r.node
          LEFT JOIN (SELECT model_id, obj AS node, count(*) AS c
                     FROM causal GROUP BY 1, 2) i
                 ON i.model_id = r.model_id AND i.node = r.node),
        cls AS (SELECT model_id, node,
                       CASE WHEN in_deg = 0 AND out_deg = 0 THEN 'island'
                            WHEN in_deg = 0 THEN 'root'
                            ELSE 'member' END AS klass
                FROM deg),
        flags AS (SELECT model_id,
                         max(CASE WHEN klass = 'root' THEN 1 ELSE 0 END)
                             AS has_roots,
                         max(CASE WHEN klass = 'member' THEN 1 ELSE 0 END)
                             AS has_members
                  FROM cls GROUP BY 1),
        reach(model_id, node, root, depth) AS (
          SELECT model_id, node, node, 0 FROM cls WHERE klass = 'root'
          UNION
          SELECT c.model_id, c.obj, r.root, r.depth + 1
          FROM reach r
          JOIN causal c ON c.model_id = r.model_id AND c.subj = r.node
          WHERE r.depth < 128),
        agg AS (SELECT model_id, node, min(root) AS root,
                       max(depth) AS depth
                FROM reach GROUP BY 1, 2),
        chain AS (SELECT c.model_id, c.node, c.klass, a.root, a.depth
                  FROM cls c
                  JOIN flags f ON f.model_id = c.model_id
                  LEFT JOIN agg a ON a.model_id = c.model_id
                                 AND a.node = c.node
                  WHERE f.has_roots = 1 AND c.klass <> 'island'),
        root_rank AS (
          SELECT model_id, root,
                 row_number() OVER (PARTITION BY model_id ORDER BY root) - 1
                     AS chain_row
          FROM (SELECT DISTINCT model_id, root FROM chain
                WHERE root IS NOT NULL)),
        chain_rows AS (
          SELECT ch.model_id, ch.node, ch.klass,
                 250 + ch.depth * 350 AS x, 20 + rr.chain_row * 500 AS y
          FROM chain ch
          JOIN root_rank rr ON rr.model_id = ch.model_id
                           AND rr.root = ch.root
          WHERE ch.root IS NOT NULL),
        n_chains AS (SELECT model_id, max(chain_row) AS max_row
                     FROM root_rank GROUP BY 1),
        stray AS (
          SELECT ch.model_id, ch.node, ch.klass,
                 row_number() OVER (PARTITION BY ch.model_id
                                    ORDER BY ch.node) - 1 AS stray_row
          FROM chain ch WHERE ch.root IS NULL),
        stray_rows AS (
          SELECT s.model_id, s.node, s.klass, 250 AS x,
                 20 + (n.max_row + 1 + s.stray_row) * 500 AS y
          FROM stray s JOIN n_chains n ON n.model_id = s.model_id),
        n_rows AS (
          SELECT model_id, (max(y) - 20) / 500 + 1 AS rows_used
          FROM (SELECT model_id, y FROM chain_rows
                UNION ALL SELECT model_id, y FROM stray_rows)
          GROUP BY 1),
        rooted_islands AS (
          SELECT c.model_id, c.node, c.klass,
                 250 + (row_number() OVER (PARTITION BY c.model_id
                                           ORDER BY c.node) - 1) * 350 AS x,
                 20 + coalesce(n.rows_used, 0) * 500 AS y
          FROM cls c
          JOIN flags f ON f.model_id = c.model_id
          LEFT JOIN n_rows n ON n.model_id = c.model_id
          WHERE f.has_roots = 1 AND c.klass = 'island'),
        island_only AS (
          SELECT c.model_id, c.node, c.klass,
                 250 + (row_number() OVER (PARTITION BY c.model_id
                                           ORDER BY c.node) - 1) * 200 AS x,
                 20 AS y
          FROM cls c JOIN flags f ON f.model_id = c.model_id
          WHERE f.has_roots = 0 AND f.has_members = 0),
        circ_islands AS (
          SELECT c.model_id, c.node, c.klass,
                 250 + (row_number() OVER (PARTITION BY c.model_id
                                           ORDER BY c.node) - 1) * 75 AS x,
                 20 AS y
          FROM cls c JOIN flags f ON f.model_id = c.model_id
          WHERE f.has_roots = 0 AND f.has_members = 1
            AND c.klass = 'island'),
        members AS (
          SELECT c.model_id, c.node, c.klass
          FROM cls c JOIN flags f ON f.model_id = c.model_id
          WHERE f.has_roots = 0 AND f.has_members = 1
            AND c.klass = 'member'),
        circ_members AS (
          SELECT model_id, node, klass,
                 trunc(800.0 + 600.0 * cos(
                   (row_number() OVER (PARTITION BY model_id ORDER BY node)
                    - 1)
                   * (2 * pi() / (count(*) OVER (PARTITION BY model_id)))))
                     AS x,
                 trunc(700.0 - 600.0 * sin(
                   (row_number() OVER (PARTITION BY model_id ORDER BY node)
                    - 1)
                   * (2 * pi() / (count(*) OVER (PARTITION BY model_id)))))
                     AS y
          FROM members)
        SELECT model_id, node, klass,
               CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
        FROM (
          SELECT model_id, node, 'pathway' AS klass, 20 AS x, 20 AS y
          FROM pathways
          UNION ALL SELECT * FROM chain_rows
          UNION ALL SELECT * FROM stray_rows
          UNION ALL SELECT * FROM rooted_islands
          UNION ALL SELECT * FROM island_only
          UNION ALL SELECT * FROM circ_islands
          UNION ALL SELECT * FROM circ_members
        )
    """
    # HyperLogLog: the oracle replays the REGISTER TABLE itself (md5
    # bit-slice index + 33-len(bin) rank), not just the estimate; the
    # numerator literal is shared with sketches.HLL_NUM so the final
    # division is the same IEEE op on both engines.
    from pathways2go_spark.sketches import HLL_M, HLL_NUM

    sql["sketch_hll"] = f"""
        WITH h AS (
          SELECT l_returnflag,
                 md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                     CAST(l_partkey AS VARCHAR)) AS h
          FROM lineitem
        ), rr AS (
          SELECT l_returnflag,
                 CAST(('0x' || substr(h, 1, 3))::BIGINT AS INT) AS reg,
                 ('0x' || substr(h, 4, 8))::BIGINT AS w
          FROM h
        ), regs AS (
          SELECT l_returnflag, reg,
                 max(CASE WHEN w = 0 THEN 33
                     ELSE 33 - length(bin(w)) END) AS mj
          FROM rr GROUP BY 1, 2
        ), pk AS (
          SELECT l_returnflag,
                 count(*) AS n_regs,
                 sum((1::BIGINT << (33 - mj))::BIGINT)::BIGINT AS s_present
          FROM regs GROUP BY 1
        ), est AS (
          SELECT l_returnflag, n_regs,
                 CAST({HLL_M} - n_regs AS BIGINT) AS zeros,
                 s_present
                   + CAST({HLL_M} - n_regs AS BIGINT)
                     * (1::BIGINT << 33) AS s_scaled
          FROM pk
        )
        SELECT l_returnflag, n_regs, zeros, s_scaled,
               floor(CASE WHEN {HLL_NUM!r} / s_scaled <= {2.5 * HLL_M}
                           AND zeros > 0
                          THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
                          ELSE {HLL_NUM!r} / s_scaled END * 1e6 + 0.5)
                 / 1e6 AS hll_est
        FROM est
    """
    # the streaming register fold must equal this batch replay exactly:
    # same md5 slicing, same estimator, computed over the SAME fixture
    # documents the stream consumed
    sql["stream_hll"] = f"""
        WITH h AS (
          SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM '{docs}'
        ), rr AS (
          SELECT CAST(('0x' || substr(h, 1, 3))::BIGINT AS INT) AS reg,
                 ('0x' || substr(h, 4, 8))::BIGINT AS w
          FROM h
        ), regs AS (
          SELECT reg,
                 max(CASE WHEN w = 0 THEN 33
                     ELSE 33 - length(bin(w)) END) AS mj
          FROM rr GROUP BY 1
        ), pk AS (
          SELECT count(*) AS n_regs,
                 sum((1::BIGINT << (33 - mj))::BIGINT)::BIGINT
                   AS s_present
          FROM regs
        ), est AS (
          SELECT n_regs,
                 CAST({HLL_M} - n_regs AS BIGINT) AS zeros,
                 s_present
                   + CAST({HLL_M} - n_regs AS BIGINT)
                     * (1::BIGINT << 33) AS s_scaled
          FROM pk
        )
        SELECT n_regs, zeros, s_scaled,
               floor(CASE WHEN {HLL_NUM!r} / s_scaled <= {2.5 * HLL_M}
                           AND zeros > 0
                          THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / zeros)
                          ELSE {HLL_NUM!r} / s_scaled END * 1e6 + 0.5)
                 / 1e6 AS hll_est
        FROM est
    """
    # boilerplate census over the doubled corpus: chunking mirror of
    # dedup_paragraph, then a document-frequency census instead of a
    # first-occurrence rank
    sql["text_boilerplate"] = f"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {DOC_OFFSET}, text FROM documents
        ), toks AS (
          SELECT doc_id, {_TOKS} AS t FROM docs
        ), chunks AS (
          SELECT doc_id, i AS idx,
                 array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
          FROM toks,
               UNNEST(range(greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1)))
                 AS u(i)
        ), census AS (
          SELECT md5(chunk) AS ch, count(DISTINCT doc_id) AS docfreq
          FROM chunks GROUP BY 1
        ), flagged AS (
          SELECT c.doc_id, c.idx, c.chunk,
                 (s.docfreq >= 2) AS is_boiler
          FROM chunks c JOIN census s ON md5(c.chunk) = s.ch
        )
        SELECT doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boiler,
               round(CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS boiler_ratio,
               md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END,
                                       ' ' ORDER BY idx), '')) AS clean_md5
        FROM flagged GROUP BY doc_id
    """
    # epoch order: global_pos = rank by h within epoch EQUALS the
    # hierarchical bucket-offset + in-bucket rank (bucket is h's top
    # byte, so h order is bucket-major)
    sql["data_epoch"] = """
        WITH e AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, CAST(ep AS INT) AS epoch
          FROM documents, UNNEST(range(2)) AS u(ep)
        ), k AS (
          SELECT epoch, id,
                 md5(CAST(epoch AS VARCHAR) || ':' || id) AS h
          FROM e
        )
        SELECT epoch, id AS doc_id,
               CAST(('0x' || substr(h, 1, 2))::BIGINT AS INT) AS bucket,
               row_number() OVER (
                 PARTITION BY epoch,
                              CAST(('0x' || substr(h, 1, 2))::BIGINT AS INT)
                 ORDER BY h, id) AS pos,
               row_number() OVER (PARTITION BY epoch ORDER BY h, id)
                 AS global_pos
        FROM k
    """
    # dag levels: the Kahn longest-path peel unrolled to 8 rounds (the
    # pagerank-oracle technique) — each round settles nodes whose every
    # in-edge source is already settled, at 1 + max(predecessor level);
    # survivors after round 8 are cycle-locked -> -1
    def _dag_levels_sql(tri_path: str, causal_in: str, rounds: int) -> str:
        ctes = [
            f"""edges AS MATERIALIZED (
              SELECT model_id, subj AS src, obj AS dst FROM '{tri_path}'
              WHERE pred IN ('{causal_in}') GROUP BY 1, 2, 3
            )""",
            """nodes AS MATERIALIZED (
              SELECT model_id, src AS node FROM edges
              UNION
              SELECT model_id, dst FROM edges
            )""",
            """s0 AS MATERIALIZED (
              SELECT n.model_id, n.node, 0 AS level FROM nodes n
              WHERE NOT EXISTS (
                SELECT 1 FROM edges e
                WHERE e.model_id = n.model_id AND e.dst = n.node)
            )""",
        ]
        for k in range(1, rounds + 1):
            p = k - 1
            ctes.append(f"""c{k} AS (
              SELECT e.model_id, e.dst AS node, 1 + max(s.level) AS level
              FROM edges e
              LEFT JOIN s{p} s
                ON e.model_id = s.model_id AND e.src = s.node
              GROUP BY e.model_id, e.dst
              HAVING count(*) = count(s.level)
            )""")
            ctes.append(f"""s{k} AS MATERIALIZED (
              SELECT * FROM s{p}
              UNION ALL
              SELECT c.* FROM c{k} c WHERE NOT EXISTS (
                SELECT 1 FROM s{p} s
                WHERE s.model_id = c.model_id AND s.node = c.node)
            )""")
        return f"""
            WITH {', '.join(ctes)}
            SELECT n.model_id, n.node,
                   CAST(coalesce(s.level, -1) AS INT) AS level
            FROM nodes n
            LEFT JOIN s{rounds} s
              ON n.model_id = s.model_id AND n.node = s.node
        """

    sql["kg_dag_levels"] = _dag_levels_sql(tri, rp_causal, rounds=8)

    # k-core: the degree peel unrolled (fixed point <= 8 rounds on this
    # corpus; Spark early-exits at the fixed point, so extra unrolled
    # rounds are identity)
    def _kcore_sql(tri_path: str, k: int, rounds: int) -> str:
        ctes = [
            f"""e0 AS MATERIALIZED (
              SELECT model_id, least(subj, obj) AS a,
                     greatest(subj, obj) AS b
              FROM '{tri_path}'
              WHERE pred <> 'type' AND subj <> obj
              GROUP BY 1, 2, 3
            )"""
        ]
        for r in range(1, rounds + 1):
            p = r - 1
            ctes.append(f"""d{r} AS (
              SELECT model_id, node, count(*) AS deg FROM (
                SELECT model_id, a AS node FROM e{p}
                UNION ALL SELECT model_id, b FROM e{p}
              ) GROUP BY 1, 2
            )""")
            ctes.append(f"""e{r} AS MATERIALIZED (
              SELECT e.* FROM e{p} e
              JOIN d{r} da ON da.model_id = e.model_id AND da.node = e.a
                          AND da.deg >= {k}
              JOIN d{r} db ON db.model_id = e.model_id AND db.node = e.b
                          AND db.deg >= {k}
            )""")
        return f"""
            WITH {', '.join(ctes)}
            SELECT model_id, node, count(*) AS core_degree FROM (
              SELECT model_id, a AS node FROM e{rounds}
              UNION ALL SELECT model_id, b FROM e{rounds}
            ) GROUP BY 1, 2 HAVING count(*) >= {k}
        """

    sql["kg_kcore"] = _kcore_sql(tri, k=2, rounds=8)
    sql["kg_snapshot_log"] = f"""
        WITH t AS (
          SELECT ('0x' || substr(md5(model_id || '|' || subj || '|' ||
                                     pred || '|' || obj), 1, 1))::BIGINT
                   AS n
          FROM '{tri}'
        ), c AS (
          SELECT CASE WHEN n <= 5 THEN 1 WHEN n <= 10 THEN 2 ELSE 3 END
                   AS snapshot_id,
                 count(*) AS n_rows
          FROM t GROUP BY 1
        )
        SELECT CAST(snapshot_id AS INT) AS snapshot_id,
               CAST(CASE WHEN snapshot_id > 1 THEN snapshot_id - 1
                         ELSE -1 END AS INT) AS parent,
               n_rows,
               CAST(sum(n_rows) OVER (ORDER BY snapshot_id) AS BIGINT)
                 AS cum_rows
        FROM c
    """
    sql["kg_term_specificity"] = f"""
        WITH usage AS (
          SELECT obj AS term,
                 count(DISTINCT model_id || chr(1) || subj) AS n_nodes,
                 count(DISTINCT model_id) AS n_models
          FROM '{tri}' WHERE pred = 'type' GROUP BY 1
        ), anc AS (
          SELECT class_iri AS term, count(*) AS n_ancestors
          FROM '{anc}' GROUP BY 1
        )
        SELECT u.term, u.n_nodes, u.n_models,
               CAST(coalesce(a.n_ancestors, 0) AS BIGINT) AS n_ancestors
        FROM usage u LEFT JOIN anc a ON u.term = a.term
    """
    sql["media_frame_sample"] = f"""
        WITH m AS (
          SELECT doc_id, s.media_ref AS media_ref, s.text AS caption,
                 split_part(s.media_ref, '://', 1) AS media_kind,
                 length(s.media_ref) AS n_bytes
          FROM (SELECT doc_id, unnest(spans) AS s FROM '{docs}')
          WHERE s.media_ref <> ''
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY media_ref) AS rank
          FROM m
        )
        SELECT doc_id, media_ref, caption, media_kind,
               CAST(n_bytes AS INT) AS n_bytes
        FROM r WHERE (rank - 1) % 2 = 0
    """
    sql["data_curriculum"] = """
        WITH d AS (
          SELECT doc_id, source,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tokens
          FROM documents
        ), b AS (
          SELECT *, ntile(4) OVER (
            PARTITION BY source ORDER BY n_tokens, doc_id) AS bucket
          FROM d
        )
        SELECT source, CAST(bucket AS INT) AS bucket,
               count(*) AS n_docs,
               min(n_tokens) AS min_tokens,
               max(n_tokens) AS max_tokens,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM b GROUP BY 1, 2
    """
    sql["events_debounce"] = """
        WITH g AS (
          SELECT event_id, user_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS gap_s
          FROM events
        )
        SELECT event_id, user_id, event_type,
               coalesce(gap_s, -1) AS gap_s
        FROM g WHERE gap_s IS NULL OR gap_s > 60
    """
    sql["events_resample"] = """
        WITH c AS (
          SELECT event_type, date_trunc('hour', ts) AS h,
                 count(*) AS n
          FROM events GROUP BY 1, 2
        ), r AS (
          SELECT event_type, min(h) AS h0, max(h) AS h1 FROM c
          GROUP BY 1
        ), g AS (
          SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM r
        )
        SELECT g.event_type,
               strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
               coalesce(c.n, 0) AS n
        FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
    """
    sql["events_sliding"] = """
        WITH e AS (
          SELECT event_type,
                 CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS s0
          FROM events
        ), w AS (
          SELECT event_type, s0 AS ws FROM e
          UNION ALL
          SELECT event_type, s0 - 300 AS ws FROM e
        )
        SELECT strftime(CAST(to_timestamp(ws) AS TIMESTAMP),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(CAST(to_timestamp(ws + 600) AS TIMESTAMP),
                        '%Y-%m-%d %H:%M:%S') AS window_end,
               event_type, count(*) AS n
        FROM w GROUP BY 1, 2, 3
    """
    sql["data_drift"] = """
        WITH co AS (
          SELECT source AS key, count(*) AS n_old FROM documents
          WHERE doc_id < 250 GROUP BY 1
        ), cn AS (
          SELECT source AS key, count(*) AS n_new FROM documents
          WHERE doc_id >= 250 GROUP BY 1
        ), j AS (
          SELECT key, coalesce(n_old, 0) AS n_old,
                 coalesce(n_new, 0) AS n_new
          FROM co FULL OUTER JOIN cn USING (key)
        ), t AS (
          -- every operand cast to DOUBLE up front: a bare 0.5 literal
          -- is DECIMAL in DuckDB and silently drags the shares into
          -- decimal arithmetic, diverging from Spark's doubles
          -- totals named tot_*/n_keys, NOT "N_old": DuckDB resolves
          -- column names case-insensitively just like Spark, and the
          -- collision silently rebinds to the per-key count
          SELECT key, n_old, n_new,
                 CAST(n_old AS DOUBLE) AS no_d,
                 CAST(n_new AS DOUBLE) AS nn_d,
                 CAST(sum(n_old) OVER () AS DOUBLE) AS tot_old,
                 CAST(sum(n_new) OVER () AS DOUBLE) AS tot_new,
                 CAST(count(*) OVER () AS DOUBLE) AS n_keys
          FROM j
        ), s AS (
          SELECT key, n_old, n_new,
                 (no_d + CAST(0.5 AS DOUBLE))
                   / (tot_old + CAST(0.5 AS DOUBLE) * n_keys) AS p,
                 (nn_d + CAST(0.5 AS DOUBLE))
                   / (tot_new + CAST(0.5 AS DOUBLE) * n_keys) AS q
          FROM t
        )
        SELECT key, n_old, n_new,
               round(p * ln(p / q), 6) AS kl_term,
               round(abs(p - q) / CAST(2.0 AS DOUBLE), 6) AS tv_term
        FROM s
    """
    sql["dedup_incremental"] = f"""
        SELECT doc_id + {DOC_OFFSET} AS batch_id, doc_id AS corpus_id,
               1.0 AS est_jaccard
        FROM documents WHERE doc_id < 25
    """
    sql["dedup_editdist"] = f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 50
          UNION ALL
          SELECT doc_id + {DOC_OFFSET} AS doc_id, text || ' xx' AS text
          FROM documents WHERE doc_id < 50
        ), b AS (
          SELECT doc_id, text, md5(substr(text, 1, 40)) AS bk FROM corpus
        ), small AS (
          SELECT bk FROM b GROUP BY bk HAVING count(*) <= 64
        ), bb AS (
          SELECT b.* FROM b JOIN small USING (bk)
        )
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(levenshtein(x.text, y.text) AS INT) AS dist
        FROM bb x JOIN bb y ON x.bk = y.bk AND x.doc_id < y.doc_id
        WHERE levenshtein(x.text, y.text) <= 4
    """
    sql["kg_term_semsim"] = f"""
        WITH terms AS (
          SELECT DISTINCT model_id, obj AS term FROM '{tri}'
          WHERE pred = 'type'
        ), pairs AS (
          SELECT x.term AS term_a, y.term AS term_b,
                 count(DISTINCT x.model_id) AS n_models
          FROM terms x JOIN terms y
            ON x.model_id = y.model_id AND x.term < y.term
          GROUP BY 1, 2 HAVING count(DISTINCT x.model_id) >= 2
        ), a AS (
          SELECT class_iri AS term, ancestor_iri AS anc FROM '{anc}'
        ), sizes AS (
          SELECT term, count(*) AS n FROM a GROUP BY 1
        ), common AS (
          SELECT p.term_a, p.term_b, count(*) AS n_common
          FROM pairs p
          JOIN a xa ON xa.term = p.term_a
          JOIN a xb ON xb.term = p.term_b AND xb.anc = xa.anc
          GROUP BY 1, 2
        )
        SELECT p.term_a, p.term_b, p.n_models,
               CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
               CAST(coalesce(sa.n, 0) + coalesce(sb.n, 0)
                    - coalesce(c.n_common, 0) AS BIGINT) AS n_union,
               CASE WHEN coalesce(sa.n, 0) + coalesce(sb.n, 0)
                         - coalesce(c.n_common, 0) > 0
                    THEN floor(CAST(coalesce(c.n_common, 0) AS DOUBLE)
                               / (coalesce(sa.n, 0) + coalesce(sb.n, 0)
                                  - coalesce(c.n_common, 0))
                               * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS jaccard
        FROM pairs p
        LEFT JOIN common c ON c.term_a = p.term_a AND c.term_b = p.term_b
        LEFT JOIN sizes sa ON sa.term = p.term_a
        LEFT JOIN sizes sb ON sb.term = p.term_b
    """
    sql["events_retention"] = """
        WITH days AS (
          SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
          FROM events
        ), first AS (
          SELECT u, min(day) AS cohort FROM days GROUP BY 1
        )
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
               CAST(date_diff('day', f.cohort, d.day) AS INT) AS day_offset,
               count(*) AS n_users
        FROM days d JOIN first f ON d.u = f.u
        GROUP BY 1, 2
    """
    sql["text_chunks"] = """
        SELECT doc_id,
               CAST(i AS INT) AS chunk_ix,
               CAST(length(substr(text, CAST(i AS INT) * 80 + 1, 120))
                    AS INT) AS n_chars,
               CAST(('0x' || substr(
                 md5(substr(text, CAST(i AS INT) * 80 + 1, 120)), 1, 8
               )) AS BIGINT) AS chunk_hash
        FROM documents,
             unnest(generate_series(
               0, CAST(floor((length(text) - 1) / 80) AS BIGINT)
             )) AS t(i)
        WHERE length(text) > 0
    """
    sql["tpch_returned_revenue"] = """
        WITH l AS (
          SELECT l_orderkey,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
                            + 0.5) AS BIGINT) AS rev_i
          FROM lineitem WHERE l_returnflag = 'R'
        ), o AS (
          SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        ), pc AS (
          SELECT o.o_custkey, sum(l.rev_i) AS rev_sum
          FROM l JOIN o ON l.l_orderkey = o.o_orderkey
          GROUP BY 1
        )
        SELECT c.c_custkey, c.c_name,
               CAST(pc.rev_sum AS DOUBLE) / 1e4 AS revenue,
               c.c_acctbal, n.n_name
        FROM pc
        JOIN customer c ON pc.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """
    sql["tpch_forecast_revenue"] = """
        SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e4
                                   + 0.5) AS BIGINT)) AS BIGINT)
                 AS rev_i,
               CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e4
                                   + 0.5) AS BIGINT)) AS BIGINT) / 1e4
                 AS revenue
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """
    sql["tpch_small_qty_revenue"] = """
        WITH t AS (
          SELECT l_quantity, l_extendedprice,
                 sum(l_quantity) OVER (PARTITION BY l_partkey)
                   / count(*) OVER (PARTITION BY l_partkey) AS avg_qty
          FROM lineitem
        )
        SELECT CAST(sum(CAST(floor(l_extendedprice * 1e4 + 0.5)
                             AS BIGINT)) AS BIGINT) AS price_i,
               round(CAST(sum(CAST(floor(l_extendedprice * 1e4 + 0.5)
                                   AS BIGINT)) AS BIGINT) / 1e4 / 7.0, 6)
                 AS avg_yearly
        FROM t
        WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
    """
    sql["tpch_promo_revenue"] = """
        WITH l AS (
          SELECT l_partkey,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
                            + 0.5) AS BIGINT) AS rev_i
          FROM lineitem
          WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
        ), agg AS (
          SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_i
                              ELSE 0 END) AS BIGINT) AS promo_i,
                 CAST(sum(rev_i) AS BIGINT) AS total_i
          FROM l JOIN part ON l_partkey = p_partkey
        )
        SELECT promo_i, total_i,
               round(CAST(100.0 AS DOUBLE) * promo_i / total_i, 6)
                 AS promo_pct
        FROM agg
    """
    sql["tpch_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
    """
    sql["tpch_large_orders"] = """
        WITH q AS (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum_qty
        FROM q
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """
    sql["tpch_order_count_dist"] = """
        WITH pc AS (
          SELECT o_custkey, count(*) AS cnt FROM orders
          WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
        ), per AS (
          SELECT coalesce(pc.cnt, 0) AS c_count
          FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
    """
    sql["tpch_late_lines"] = """
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                                      CAST(l_shipdate AS DATE)) > 60
                        THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
               CAST(sum(CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                                      CAST(l_shipdate AS DATE)) > 60
                        THEN 0 ELSE 1 END) AS BIGINT) AS ontime_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        GROUP BY 1 ORDER BY 1
    """
    sql["tpch_volume_shipping"] = """
        WITH l AS (
          SELECT l_orderkey, l_suppkey,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rev_i
          FROM lineitem
          WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        )
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               l_year,
               CAST(sum(rev_i) AS DOUBLE) / 1e4 AS revenue
        FROM l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders   o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE s.s_nationkey IN (1, 2) AND c.c_nationkey IN (1, 2)
          AND s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    sql["tpch_top_supplier"] = """
        WITH ps AS (
          SELECT l_suppkey, sum(CAST(floor(l_extendedprice
                     * (1 - l_discount) * 1e4
                     + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS rev_sum
          FROM lineitem
          WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
          GROUP BY 1
        )
        SELECT s_suppkey, s_name,
               CAST(rev_sum AS DOUBLE) / 1e4 AS total_revenue
        FROM ps JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_sum = (SELECT max(rev_sum) FROM ps)
        ORDER BY s_suppkey
    """
    sql["tpch_disjunctive_revenue"] = """
        SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                     * 1e4 + CAST(0.5 AS DOUBLE)) AS BIGINT))
                    AS DOUBLE) / 1e4 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity BETWEEN 1 AND 30
          AND p_size BETWEEN 1 AND 15
          AND (
            (p_brand = 'Brand#12' AND p_size <= 5 AND l_quantity <= 11)
            OR (p_brand = 'Brand#23' AND p_size <= 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#14' AND l_quantity >= 20)
          )
    """
    sql["tpch_dormant_customers"] = """
        WITH c AS (
          SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal * 100 + CAST(0.5 AS DOUBLE))
                      AS BIGINT) AS bal_i
          FROM customer
          WHERE c_nationkey IN (3, 5, 7, 9, 11, 13, 17)
        ), st AS (
          SELECT sum(bal_i) AS sum_i, count(*) AS n_pos
          FROM c WHERE bal_i > 0
        )
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(bal_i) AS DOUBLE) / 100.0 AS totacctbal
        FROM c, st
        WHERE bal_i * n_pos > sum_i
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= '2000-01-01')
        GROUP BY 1 ORDER BY 1
    """
    sql["tpch_market_share"] = """
        WITH rows_ AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 s.s_nationkey,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rev_i
          FROM lineitem
          JOIN part p     ON l_partkey = p.p_partkey
          JOIN supplier s ON l_suppkey = s.s_suppkey
          JOIN orders o   ON l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE p.p_type = 'PROMO'
            AND c.c_nationkey IN (2, 7, 12, 17, 22)
            AND o.o_orderdate >= '1996-01-01'
            AND o.o_orderdate <  '1998-01-01'
        )
        SELECT o_year,
               floor(CAST(sum(CASE WHEN s_nationkey = 7 THEN rev_i
                                   ELSE 0 END) AS DOUBLE)
                     / CAST(sum(rev_i) AS DOUBLE) * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS mkt_share
        FROM rows_ GROUP BY 1 ORDER BY 1
    """
    sql["tpch_profit"] = """
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(
                 CAST(floor(l_extendedprice * (1 - l_discount) * 1e4
                            + CAST(0.5 AS DOUBLE)) AS BIGINT)
                 - CAST(floor(p.p_retailprice * l_quantity * 1e4
                              + CAST(0.5 AS DOUBLE)) AS BIGINT)
               ) AS DOUBLE) / 1e4 AS sum_profit
        FROM lineitem
        JOIN part p     ON l_partkey = p.p_partkey
        JOIN supplier s ON l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN orders o   ON l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """
    sql["tpch_min_cost_supplier"] = """
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 min(CAST(floor(l_extendedprice / l_quantity * 1e4
                                + CAST(0.5 AS DOUBLE)) AS BIGINT))
                   AS min_i
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_size = 15
          GROUP BY 1, 2
        ), rk AS (
          SELECT *, rank() OVER (PARTITION BY l_partkey
                                 ORDER BY min_i, l_suppkey) AS r
          FROM offers
        )
        SELECT l_partkey AS p_partkey, s_suppkey, s_name, s_acctbal,
               CAST(min_i AS DOUBLE) / 1e4 AS min_unit_price
        FROM rk JOIN supplier ON l_suppkey = s_suppkey
        WHERE r = 1
        ORDER BY p_partkey, s_suppkey
    """
    sql["tpch_important_parts"] = """
        WITH pp AS (
          SELECT l_partkey,
                 sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 1e4 + CAST(0.5 AS DOUBLE))
                          AS BIGINT)) AS value_i
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          WHERE s_nationkey = 9
          GROUP BY 1
        )
        SELECT l_partkey AS p_partkey,
               CAST(value_i AS DOUBLE) / 1e4 AS value
        FROM pp
        WHERE value_i * 1000 > (SELECT sum(value_i) FROM pp)
        ORDER BY value DESC, p_partkey
    """
    sql["tpch_supplier_cnt"] = """
        WITH pairs AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p_brand, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT)
                 AS supplier_cnt
        FROM pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND p_brand <> 'Brand#5'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY 1, 2
        ORDER BY supplier_cnt DESC, p_brand, p_size
    """
    sql["tpch_waiting_orders"] = """
        WITH lines AS (
          SELECT l_orderkey, l_suppkey,
                 datediff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) > 90 AS is_late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), per_order AS (
          SELECT l_orderkey,
                 count(DISTINCT l_suppkey) AS n_supp,
                 count(DISTINCT CASE WHEN is_late THEN l_suppkey
                                END) AS n_late
          FROM lines GROUP BY 1
        ), late_pairs AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lines
          WHERE is_late
        )
        SELECT s_name, s_suppkey, CAST(count(*) AS BIGINT) AS numwait
        FROM late_pairs
        JOIN per_order USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY 1, 2
        ORDER BY numwait DESC, s_suppkey
        LIMIT 100
    """
    sql["tpch_dominant_supplier"] = """
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 sum(CAST(l_quantity AS BIGINT)) AS supp_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE '%red%'
            AND l_shipdate >= '1997-01-01'
            AND l_shipdate < '1998-01-01'
          GROUP BY 1, 2
        ), tot AS (
          SELECT l_partkey, sum(supp_qty) AS tot_qty FROM ps
          GROUP BY 1
        )
        SELECT DISTINCT s_suppkey, s_name
        FROM ps
        JOIN tot USING (l_partkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE supp_qty * 2 > tot_qty
        ORDER BY s_suppkey
    """
    sql["events_anomaly"] = """
        WITH c AS (
          SELECT event_type, date_trunc('hour', ts) AS h,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), r AS (
          SELECT event_type, min(h) AS h0, max(h) AS h1 FROM c
          GROUP BY 1
        ), g AS (
          SELECT event_type,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM r
        ), d AS (
          SELECT g.event_type, g.h, coalesce(c.n, 0) AS n
          FROM g LEFT JOIN c ON g.event_type = c.event_type
                            AND g.h = c.h
        ), w AS (
          SELECT event_type, h, n,
                 CAST(sum(n) OVER win AS BIGINT) AS sum_n,
                 CAST(sum(n * n) OVER win AS BIGINT) AS sumsq,
                 count(*) OVER win AS cnt
          FROM d
          WINDOW win AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ), v AS (
          SELECT event_type, h, n, sum_n,
                 (CAST(sumsq AS DOUBLE)
                  - CAST(sum_n AS DOUBLE) * CAST(sum_n AS DOUBLE)
                    / CAST(24 AS DOUBLE)) / CAST(23 AS DOUBLE) AS var
          FROM w WHERE cnt = 24
        )
        SELECT event_type,
               strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n,
               floor((CAST(n AS DOUBLE)
                      - CAST(sum_n AS DOUBLE) / CAST(24 AS DOUBLE))
                     / sqrt(var) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS z
        FROM v
        WHERE var > 0
          AND abs(floor((CAST(n AS DOUBLE)
                         - CAST(sum_n AS DOUBLE) / CAST(24 AS DOUBLE))
                        / sqrt(var) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6)
              >= CAST(2 AS DOUBLE)
    """
    sql["sim_centroid_outliers"] = """
        WITH ex AS (
          SELECT vec_id, label,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sv,
                 unnest(generate_series(0, len(embedding) - 1)) AS i
          FROM embeddings
        ), cent AS (
          SELECT label, i,
                 CAST(floor(CAST(sum(sv) AS DOUBLE) / count(*)
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c6
          FROM ex GROUP BY 1, 2
        ), d AS (
          SELECT ex.vec_id, ex.label,
                 CAST(sum((sv - c6) * (sv - c6)) AS BIGINT) AS dist_i
          FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
          GROUP BY 1, 2
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY label
                        ORDER BY dist_i DESC, vec_id) AS rk
          FROM d
        )
        SELECT label, vec_id, CAST(dist_i AS DOUBLE) / 1e12 AS dist
        FROM r WHERE rk <= 5 ORDER BY label, vec_id
    """
    sql["events_winsorize"] = """
        WITH v AS (
          SELECT event_type,
                 CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                      AS BIGINT) AS vi
          FROM events
        ), hist AS (
          SELECT event_type, vi, count(*) AS c FROM v GROUP BY 1, 2
        ), cum AS (
          SELECT event_type, vi, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY vi)
                   AS cm,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM hist
        ), pr AS (
          SELECT event_type, pct, vi AS pv
          FROM cum, (VALUES (1), (99)) p(pct)
          WHERE cm >= greatest(1, (n * pct + 99) // 100)
            AND cm - c < greatest(1, (n * pct + 99) // 100)
        ), b AS (
          SELECT event_type,
                 min(CASE WHEN pct = 1 THEN pv END) AS lo,
                 min(CASE WHEN pct = 99 THEN pv END) AS hi
          FROM pr GROUP BY 1
        )
        SELECT v.event_type,
               CAST(lo AS DOUBLE) / 100.0 AS p01,
               CAST(hi AS DOUBLE) / 100.0 AS p99,
               count(*) AS n,
               CAST(sum(CASE WHEN vi < lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_low,
               CAST(sum(CASE WHEN vi > hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_high,
               floor(CAST(sum(least(greatest(vi, lo), hi)) AS DOUBLE)
                     / count(*) + CAST(0.5 AS DOUBLE)) / 100.0
                 AS mean_clipped
        FROM v JOIN b USING (event_type)
        GROUP BY 1, lo, hi
        ORDER BY 1
    """
    sql["text_novelty"] = f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
        ), {_SHINGLE_CTE},
        ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        first_ AS (
          SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY 1
        )
        SELECT ex.doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN ex.doc_id = first_doc THEN 1
                             ELSE 0 END) AS BIGINT) AS n_novel,
               floor(CAST(sum(CASE WHEN ex.doc_id = first_doc THEN 1
                                   ELSE 0 END) AS DOUBLE)
                     / count(*) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6
                 AS novelty
        FROM ex JOIN first_ USING (shingle)
        GROUP BY 1
    """
    sql["data_budget_alloc"] = """
        WITH t AS (
          SELECT source,
                 CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                      AS BIGINT) AS tokens
          FROM documents GROUP BY 1
        ), r AS (
          SELECT source, tokens,
                 (CAST(sum(tokens) OVER () AS BIGINT) * 1) // 2
                   AS budget,
                 row_number() OVER (ORDER BY tokens, source) AS i,
                 count(*) OVER () AS m,
                 CAST(coalesce(sum(tokens) OVER (
                   ORDER BY tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS prefix
          FROM t
        ), marked AS (
          SELECT *, (budget - prefix) // (m - i + 1) AS cand
          FROM r
        ), cap AS (
          SELECT min_by(cand, i) AS cap FROM marked
          WHERE tokens > cand
        )
        SELECT source, tokens,
               CASE WHEN cap IS NOT NULL AND tokens > cap THEN cap
                    ELSE tokens END AS alloc,
               (cap IS NOT NULL AND tokens > cap) AS capped
        FROM marked, cap
        ORDER BY source
    """
    sql["events_markov"] = """
        WITH p AS (
          SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS prev_type,
                 event_type AS cur_type
          FROM events
        ), c AS (
          SELECT prev_type, cur_type, count(*) AS n
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT prev_type, cur_type, n,
               floor(CAST(n AS DOUBLE)
                     / CAST(sum(n) OVER (PARTITION BY prev_type)
                            AS DOUBLE) * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS prob
        FROM c ORDER BY prev_type, cur_type
    """
    sql["text_collocations"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS tok,
                 unnest(generate_series(0,
                   len(string_split_regex(trim(lower(text)), '\\s+'))
                   - 1)) AS pos
          FROM documents
        ), uni AS (
          SELECT tok, count(*) AS c FROM toks GROUP BY 1
        ), nt AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni
        ), big AS (
          SELECT x.tok AS a, y.tok AS b, count(*) AS c_ab
          FROM toks x JOIN toks y
            ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
          GROUP BY 1, 2 HAVING count(*) >= 5
        ), nb AS (
          SELECT CAST(sum(nbd) AS BIGINT) AS n_big
          FROM (SELECT count(*) - 1 AS nbd FROM toks GROUP BY doc_id)
        )
        SELECT a, b, c_ab,
               round(ln(CAST(c_ab * n_tok * n_tok AS DOUBLE)
                        / CAST(n_big * ua.c * ub.c AS DOUBLE)), 6)
                 AS pmi
        FROM big
        JOIN uni ua ON big.a = ua.tok
        JOIN uni ub ON big.b = ub.tok
        CROSS JOIN nt CROSS JOIN nb
        ORDER BY pmi DESC, a, b
        LIMIT 50
    """
    sql["events_value_bands"] = """
        WITH v AS (
          SELECT event_type, hour(ts) AS hr,
                 CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                      AS BIGINT) AS vi
          FROM events
        ), hist AS (
          SELECT event_type, hr, vi, count(*) AS c
          FROM v GROUP BY 1, 2, 3
        ), cum AS (
          SELECT event_type, hr, vi, c,
                 sum(c) OVER (PARTITION BY event_type, hr
                              ORDER BY vi) AS cm,
                 sum(c) OVER (PARTITION BY event_type, hr) AS n
          FROM hist
        )
        SELECT event_type, CAST(hr AS INT) AS hr,
               CAST(pct AS INT) AS pct,
               CAST(vi AS DOUBLE) / 100.0 AS band,
               CAST(n AS BIGINT) AS n
        FROM cum, (VALUES (50), (95)) p(pct)
        WHERE cm >= greatest(1, (n * pct + 99) // 100)
          AND cm - c < greatest(1, (n * pct + 99) // 100)
        ORDER BY event_type, hr, pct
    """
    sql["tpch_local_supplier"] = """
        WITH n AS (
          SELECT n_nationkey, n_name FROM nation
          JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        )
        SELECT n.n_name, count(*) AS n_items,
               sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4
                              + 0.5) AS BIGINT)) / 1e4 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
                     AND o_orderdate >= '1996-01-01'
                     AND o_orderdate < '1997-01-01'
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND s_nationkey = c_nationkey
        JOIN n        ON c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """
    motif_edges = "', '".join(V.EDGE_PREDS)
    sql["kg_motif_census"] = f"""
        WITH e AS (
          SELECT model_id, subj, pred, obj FROM '{tri}'
          WHERE pred IN ('{motif_edges}')
        )
        SELECT x.pred AS pred_a, y.pred AS pred_b,
               count(*) AS n_paths,
               count(DISTINCT x.model_id) AS n_models
        FROM e x JOIN e y
          ON x.model_id = y.model_id AND x.obj = y.subj
        GROUP BY 1, 2
    """
    sql["kg_canonical_entities"] = f"""
        WITH e AS (
          SELECT DISTINCT 'n:' || model_id || '|' || subj AS node, obj
          FROM '{tri}' WHERE pred = 'exactMatch'
        )
        SELECT node,
               min(node) OVER (PARTITION BY obj) AS canonical,
               count(*) OVER (PARTITION BY obj) AS n_members
        FROM e
    """
    sql["kg_term_cooccur"] = f"""
        WITH terms AS (
          SELECT model_id, obj AS term FROM '{tri}'
          WHERE pred = 'type' GROUP BY 1, 2
        )
        SELECT x.term AS term_a, y.term AS term_b,
               count(DISTINCT x.model_id) AS n_models
        FROM terms x JOIN terms y
          ON x.model_id = y.model_id AND x.term < y.term
        GROUP BY 1, 2 HAVING count(DISTINCT x.model_id) >= 2
    """
    # one-pass column profile: the oracle is the per-column UNION ALL the
    # Spark stack pivot is equivalent to
    sql["data_profile"] = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_val,
               CAST(max({c}) AS VARCHAR) AS max_val
        FROM orders
        """
        for c in _PROFILE_COLS
    )
    # time travel AS OF snapshot 2 = the md5-nibble <= 10 subset of the
    # golden triples (snapshots 1+2 of the three-way split)
    sql["kg_time_travel"] = f"""
        WITH t AS (
          SELECT model_id, subj, pred, obj,
                 ('0x' || substr(md5(model_id || '|' || subj || '|' ||
                                     pred || '|' || obj), 1, 1))::BIGINT
                   AS n
          FROM '{tri}'
        )
        SELECT pred, count(*) AS n_triples,
               count(DISTINCT model_id) AS n_models
        FROM t WHERE n <= 10 GROUP BY pred
    """
    return sql
