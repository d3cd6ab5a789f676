"""K3 (full) + G8-deep — per-model mapping/classification reports and
manuscript-grade cross-model analytics.

Reference surface:
  GoCAMReport.java:30-553        content counts, NR mapping report,
                                 asserted/rule/inferred type split,
                                 unclassified / new / deepened counters
  GoMappingReport.java:53-203    report-file family (mapping tables,
                                 chebi usage, deprecated terms,
                                 inconsistent models, reasoner value)
  ReasonerReport.java:13-56      new/deepened classification counts
  Manuscript.java:207-363        runCounts reaction-completeness census
  Manuscript.java:365-436        buildVenn missing-dimension sets
  Manuscript.java:438-547        getCausalComparison per-pathway
                                 causal-format table

Reasoner reduction: the reference reasons each model with Arachne/OWL
and splits a node's types into asserted vs inferred by membership in
the asserted graph (GoCAMReport.wasInferred:556-565). This engine's
consumed inferences are exactly the subclass closures (SURVEY §2.5), so
"inferred types" = strict ancestors (onto_ancestors dim) of the node's
asserted classes that were not themselves asserted and are not roots.
"Rule-assigned" types are recognized by VALUE, exactly like the
reference's own NR report does (GoCAMReport.java:136/179/315 special-
cases the protein_binding / establishment_of_protein_localization
literals): in the default pipeline the only rule-minted class is
GO_0005488 from B3 binding nodes (stage_b.py:264).

Every function is a pure DataFrame program over the (model_id, subj,
pred, obj) triple table plus the broadcastable ancestors dim. Root-
closure membership is read, never re-derived: the class flags of
dims.class_flags (one broadcast row per class under a root) ride on the
type rows (dims.flagged / dims.typed), and each classification report
is an aggregate over that flag frame — node_kinds and entity_mapping
one groupBy keyed (model_id, node), model_report one more keyed
model_id, reaction_venn one per-node groupBy plus one pass over the
causal and part_of edges keyed by their other endpoint. The causal
graph analytics share one directed and one undirected edge frame.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import vocab as V
from .dims import flagged, type_rows, typed

# classes a stage-B rule can assert (recognized by value, see module doc)
RULE_ASSIGNED_CLASSES = [V.BINDING]

# node kinds in NR-report iteration order (pathways, functions,
# complexes — GoCAMReport.makeNRMappingReport:124/167/211) with the
# class flag that admits each; a node typed into several closures keeps
# the first kind, like the report's `ids` dedup set
KINDS = [("pathway", "bp"), ("function", "mf"), ("complex", "complex")]

# the causal relation family of Manuscript.getCausalComparison:479
CAUSAL_FAMILY = [
    V.DIRECTLY_POS_REGULATED_BY, V.DIRECTLY_NEG_REGULATED_BY,
    V.PROVIDES_INPUT, V.CAUSALLY_UPSTREAM,
    V.NEG_REGULATES, V.POS_REGULATES,
    V.DIRECTLY_POS_REGULATES, V.DIRECTLY_NEG_REGULATES,
]

_ROOTS = [V.BP_ROOT, V.MF_ROOT, V.CC_ROOT, V.COMPLEX_GO, V.MOLECULAR_EVENT]


def _any(cond):
    """1 if `cond` holds on any row of the group, else 0."""
    return F.max(cond.cast("int"))


def _n_distinct(cond, col: str):
    """Distinct values of `col` over the group's rows where `cond` holds."""
    return F.size(F.collect_set(F.when(cond, F.col(col))))


def _kind_rank():
    """Index into KINDS of a type row's first admitting flag (null: none)."""
    return F.coalesce(*[F.when(F.col(f), i) for i, (_, f) in enumerate(KINDS)])


def _kind(rank):
    return F.element_at(F.array(*[F.lit(k) for k, _ in KINDS]), rank + 1)


def node_kinds(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """(model_id, node, kind) for every node typed into the BP / MF /
    protein-complex closures, kind precedence pathway > function >
    complex (GoCAMReport report iteration order)."""
    return (
        typed(t, ancestors).groupBy("model_id", "node")
        .agg(F.min(_kind_rank()).alias("rank"))
        .filter(F.col("rank").isNotNull())
        .select("model_id", "node", _kind(F.col("rank")).alias("kind"))
    )


def entity_mapping(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """The per-entity mapping table a curator reads
    (GoCAMReport.makeMappingReportWithOneRowForEachGoCAMEntity:257-391,
    written by GoMappingReport.writeReport:149-175): one row per typed
    BP/MF/complex node with its curator-asserted, rule-assigned and
    closure-inferred classes as comma-joined sorted lists (empty string
    when none).

    Plan: one groupBy keyed (model_id, node) over the flagged type rows,
    each left-joined to its class's strict ancestors (broadcast); the
    kind is node_kinds' rank and the inferred list is set difference
    inside the group."""
    asserted = ~F.col("cls").isin(_ROOTS)
    rule = F.col("cls").isin(RULE_ASSIGNED_CLASSES)
    # strict non-root ancestors: the closure-inferred candidates
    strict = ancestors.filter(
        (F.col("class_iri") != F.col("ancestor_iri"))
        & ~F.col("ancestor_iri").isin(_ROOTS)
    ).select(F.col("class_iri").alias("cls"), F.col("ancestor_iri").alias("sup"))

    def classes(cond, col: str = "cls"):
        return F.collect_set(F.when(cond, F.col(col)))

    return (
        typed(t, ancestors).join(F.broadcast(strict), "cls", "left")
        .groupBy("model_id", "node")
        .agg(
            F.min(_kind_rank()).alias("rank"),
            classes(asserted & ~rule).alias("curated"),
            classes(asserted & rule).alias("rule"),
            F.array_except(classes(asserted, "sup"), classes(asserted))
            .alias("inferred"),
        )
        .filter(F.col("rank").isNotNull())
        .select(
            "model_id", "node", _kind(F.col("rank")).alias("kind"),
            *[F.concat_ws(",", F.sort_array(b)).alias(f"{b}_types")
              for b in ("curated", "rule", "inferred")],
        )
    )


def model_report(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Per-model content + classification report: the row a GoCAMReport
    carries (content counts: makeSimpleContentReport:72-75; unclassified
    / rule-classified / deepened per kind: GoCAMReport.java:398-521 and
    ReasonerReport.java:30-42).

    Columns:
      n_pathways n_functions n_complexes    typed-node counts per kind
      n_proteins n_chemicals                distinct entity nodes (the
                                            chemical count excludes the
                                            protein subtree — the
                                            reference queries them
                                            disjointly)
      n_cc_classes                          distinct CC classes used
      n_relations                           distinct edge predicates
      {kind}_unclassified                   no non-root in-closure type
      {kind}_rule_classified                classified only by a rule-
                                            minted class (B3 binding)
      {kind}_deepened                       curated AND closure adds a
                                            strict non-root ancestor

    One row per model with any nonzero count."""
    em = entity_mapping(t, ancestors)
    kind = F.col("kind")
    curated, ruled, inferred = (
        F.col(f"{b}_types") != "" for b in ("curated", "rule", "inferred")
    )

    def per_kind(name, cond):
        return [F.sum(((kind == k) & cond).cast("long")).alias(name.format(k))
                for k, _ in KINDS]

    plural = {"pathway": "n_pathways", "function": "n_functions",
              "complex": "n_complexes"}
    kinds = em.groupBy("model_id").agg(
        *[F.sum((kind == k).cast("long")).alias(plural[k]) for k, _ in KINDS],
        *per_kind("{}_unclassified", ~curated & ~ruled),
        *per_kind("{}_rule_classified", ~curated & ruled),
        *per_kind("{}_deepened", curated & inferred),
    )
    entities = flagged(t, ancestors).groupBy("model_id").agg(
        _n_distinct(F.col("protein"), "subj").alias("n_proteins"),
        _n_distinct(F.col("chem") & ~F.col("protein"), "subj")
        .alias("n_chemicals"),
        _n_distinct(F.col("cc"), "obj").alias("n_cc_classes"),
        _n_distinct(F.col("pred").isin(V.EDGE_PREDS), "pred")
        .alias("n_relations"),
    )
    counts = kinds.columns[1:] + entities.columns[1:]
    return (
        entities.join(kinds, "model_id", "left")
        .select("model_id", *[F.coalesce(F.col(c), F.lit(0)).cast("long")
                              .alias(c) for c in counts])
        .filter(reduce(operator.or_, [F.col(c) > 0 for c in counts]))
    )


def chebi_usage(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Corpus-wide chemical-class usage counts
    (GoMappingReport.chebi_count, written :130-135): one row per
    chemical class with the number of type assertions using it."""
    return (
        typed(t, ancestors).filter(F.col("chem"))
        .groupBy("cls").agg(F.count("*").alias("n"))
    )


def deprecated_terms_used(t: DataFrame, deprecated: DataFrame) -> DataFrame:
    """Classes from a deprecated-term dim that the corpus still uses
    (GoMappingReport.deprecated_classes, written :136-141): distinct
    (cls, n_models, n_uses). `deprecated` is any DataFrame with a `cls`
    column (in production: the ontology's owl:deprecated annotations)."""
    return (
        type_rows(t).join(F.broadcast(deprecated.select("cls").distinct()), "cls")
        .groupBy("cls")
        .agg(
            F.countDistinct("model_id").alias("n_models"),
            F.count("*").alias("n_uses"),
        )
    )


def inconsistent_models(violations: DataFrame) -> DataFrame:
    """Models with at least one validation failure
    (GoMappingReport.inconsistent_models, written :142-147) — fed by
    validate.validate's structural suite, this engine's consistency
    check (SURVEY §2.5 R2 reduction)."""
    return (
        violations.groupBy("model_id")
        .agg(
            F.count("*").alias("n_violations"),
            F.sort_array(F.collect_set("check")).alias("checks"),
        )
    )


def _reaction_nodes(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """The node-flag frame of the Manuscript census: one row per subject
    (model_id, node) from one groupBy over its flagged triples —
    is_mf / is_me (typed into the MF closure / molecular_event),
    has_function (a non-root MF type), bp_typed (a non-root BP type),
    has_enabler, has_location, n_in / n_out (distinct inputs / outputs)
    and `rx`, the converted-reaction guard.

    `rx` = MF or molecular_event typed and a direct conversion. Every
    Manuscript query guards `?reaction xref: ?xref` "to ensure we don't
    count generated binding nodes - only direct conversions"
    (Manuscript.java:243): in the reference only nodes converted from a
    source reaction carry a Reactome hasDbXref. In this engine the
    converted reaction's node id IS its source id verbatim, and every
    generated node id carries the `~` separator (vocab.py node-id
    scheme: io instances `{e}~{r}`, binding nodes `{r}~bind~{n}`,
    location nodes `{o}~loc~{cc}`), so the equivalent guard is
    `node NOT LIKE '%~%'`."""
    pred, obj = F.col("pred"), F.col("obj")
    return (
        flagged(t, ancestors)
        .groupBy("model_id", F.col("subj").alias("node"))
        .agg(
            _any(F.col("mf")).alias("is_mf"),
            _any((pred == V.TYPE) & (obj == V.MOLECULAR_EVENT)).alias("is_me"),
            _any(F.col("mf") & (obj != V.MF_ROOT)).alias("has_function"),
            _any(F.col("bp") & (obj != V.BP_ROOT)).alias("bp_typed"),
            _any(pred == V.ENABLED_BY).alias("has_enabler"),
            _any(pred == V.OCCURS_IN).alias("has_location"),
            _n_distinct(pred == V.HAS_INPUT, "obj").alias("n_in"),
            _n_distinct(pred == V.HAS_OUTPUT, "obj").alias("n_out"),
        )
        .withColumn("rx", ~F.col("node").contains("~")
                    & (F.col("is_mf") + F.col("is_me") > 0))
    )


def reaction_venn(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Per-reaction completeness flags — the Venn sets of
    Manuscript.buildVenn:365-436 plus the binding/dissociation census of
    runCounts:308-329, as one boolean row per converted reaction:

      has_function   typed with a non-root MF-closure class
      has_enabler    enabled_by edge out
      has_location   occurs_in edge out
      has_causal     causally_upstream_of to/from another xref'd reaction
      has_bp         part_of to a pathway with a non-root BP type
      is_binding     distinct inputs > distinct outputs (runCounts:308)
      is_dissociation distinct inputs < distinct outputs (:319)

    `no_X` report files are filters over this table; runCounts numbers
    are its column sums (see reaction_completeness). Plan: the node
    frame (_reaction_nodes), then every causally_upstream edge (both
    directions — runCounts:254-263 joins through xref on both ends) and
    part_of edge joined once to that frame on its other endpoint and
    grouped by the reaction end."""
    nodes = _reaction_nodes(t, ancestors)
    pred = F.col("pred")

    def pairs(*ends):
        return F.array(*[F.struct(F.col(a).alias("node"), F.col(b).alias("other"))
                         for a, b in ends])

    links = t.filter(pred.isin(V.CAUSALLY_UPSTREAM, V.PART_OF)).select(
        "model_id", "pred",
        F.inline(F.when(pred == V.PART_OF, pairs(("subj", "obj")))
                 .otherwise(pairs(("subj", "obj"), ("obj", "subj")))),
    )
    other = (
        links.join(
            nodes.select("model_id", F.col("node").alias("other"), "rx",
                         "bp_typed"),
            ["model_id", "other"],
        )
        .groupBy("model_id", "node")
        .agg(
            _any((pred == V.CAUSALLY_UPSTREAM) & F.col("rx")).alias("has_causal"),
            _any((pred == V.PART_OF) & (F.col("bp_typed") == 1)).alias("has_bp"),
        )
    )
    n_in, n_out = F.col("n_in"), F.col("n_out")
    return nodes.filter("rx").join(other, ["model_id", "node"], "left").select(
        "model_id", F.col("node").alias("reaction"), "is_mf", "is_me",
        "has_function", "has_enabler", "has_location",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("has_causal", "has_bp")],
        (n_in > n_out).cast("int").alias("is_binding"),
        (n_in < n_out).cast("int").alias("is_dissociation"),
    )


def reaction_completeness(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """The whole-journal reaction census of Manuscript.runCounts:207-363
    as ONE aggregation over reaction_venn (each reference query was a
    separate SPARQL scan; here the fact table is read once)."""
    v = reaction_venn(t, ancestors)
    return v.agg(
        F.count("*").alias("n_reactions"),
        F.sum("is_mf").cast("long").alias("n_mf_reactions"),
        F.sum(((F.col("is_me") == 1) & (F.col("is_mf") == 0)).cast("long"))
        .alias("n_me_only_reactions"),
        F.sum("has_enabler").cast("long").alias("n_with_enabler"),
        F.sum(1 - F.col("has_enabler")).cast("long").alias("n_no_enabler"),
        F.sum(((F.col("is_mf") == 1) & (F.col("has_enabler") == 0)).cast("long"))
        .alias("n_mf_no_enabler"),
        F.sum("has_bp").cast("long").alias("n_with_bp"),
        F.sum("has_causal").cast("long").alias("n_with_causal"),
        F.sum(1 - F.col("has_causal")).cast("long").alias("n_no_causal"),
        F.sum("has_location").cast("long").alias("n_with_occurs_in"),
        F.sum(1 - F.col("has_location")).cast("long").alias("n_no_occurs_in"),
        F.sum(
            F.col("has_causal") * F.col("has_enabler")
            * F.col("has_location") * F.col("has_bp")
        ).cast("long").alias("n_complete"),
        F.sum("is_binding").cast("long").alias("n_binding"),
        F.sum("is_dissociation").cast("long").alias("n_dissociation"),
    )


def causal_formats(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Per-model causal-format table
    (Manuscript.getCausalComparison:438-547): unique upstream->downstream
    reaction pairs over the 8-relation causal family, including the
    binding-node hop (up -provides_input-> b[type GO_0005488]
    -directly_(pos|neg)_regulates-> down, :482-486), counted per
    relation.

    The reference dedupes multi-relation pairs by Java iteration order
    (first relation seen wins, :515); here the tie-break is the MINIMUM
    relation id per pair — deterministic, and the pair count per model
    is identical. Both pair ends are checked against the converted-
    reaction frame in ONE semi join over the pairs in long form (one row
    per end), so that frame is built once."""
    rx = _reaction_nodes(t, ancestors).filter("rx").select("model_id", "node")
    direct = t.filter(F.col("pred").isin(CAUSAL_FAMILY)).select(
        "model_id", F.col("subj").alias("up"), "pred", F.col("obj").alias("down")
    )
    binding = type_rows(t).filter(F.col("cls") == V.BINDING).select(
        "model_id", F.col("node").alias("b")
    )
    hop = (
        t.filter(F.col("pred") == V.PROVIDES_INPUT)
        .select("model_id", F.col("subj").alias("up"), F.col("obj").alias("b"))
        .join(binding, ["model_id", "b"])
        .join(
            t.filter(
                F.col("pred").isin(V.DIRECTLY_POS_REGULATES,
                                   V.DIRECTLY_NEG_REGULATES)
            ).select("model_id", F.col("subj").alias("b"), "pred",
                     F.col("obj").alias("down")),
            ["model_id", "b"],
        )
        .select("model_id", "up", "pred", "down")
    )
    # end bit 1 = up, 2 = down: a pair survives when both ends did
    ends = F.array(F.struct(F.col("up").alias("node"), F.lit(1).alias("end")),
                   F.struct(F.col("down").alias("node"), F.lit(2).alias("end")))
    pairs = (
        direct.unionByName(hop)
        .select("model_id", "up", "pred", "down", F.inline(ends))
        .join(rx, ["model_id", "node"], "left_semi")
        .groupBy("model_id", "up", "down")
        .agg(F.min("pred").alias("pred"), F.bit_or("end").alias("ends"))
        .filter(F.col("ends") == 3)
    )
    return pairs.groupBy("model_id", "pred").agg(F.count("*").alias("n_pairs"))


def _causal_edges(t: DataFrame) -> DataFrame:
    """(model_id, src, dst): the distinct directed causal edges,
    materialized (the iterative analytics probe it every round)."""
    return (
        t.filter(F.col("pred").isin(CAUSAL_FAMILY))
        .select("model_id", F.col("subj").alias("src"),
                F.col("obj").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _undirected_causal(t: DataFrame) -> DataFrame:
    """(model_id, a, b): the causal edges canonicalized to a = least,
    b = greatest, so direction and multi-predicate parallel edges
    collapse; self-loops drop."""
    return (
        t.filter(F.col("pred").isin(CAUSAL_FAMILY))
        .select(
            "model_id",
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def _node_triangles(t: DataFrame) -> DataFrame:
    """(model_id, node, degree, n_tri) for every node of the undirected
    causal graph. Triangles are the standard distributed two-join
    enumeration — wedge build then close — with every join keyed by
    (model_id, node), so no cross-model hub node ever becomes a single
    shuffle key; each triangle materializes exactly once as a < b < c
    and credits its three corners via one explode."""
    e = _undirected_causal(t).localCheckpoint(eager=True)
    deg = (
        e.select("model_id", F.col("a").alias("node"))
        .unionAll(e.select("model_id", F.col("b").alias("node")))
        .groupBy("model_id", "node")
        .agg(F.count("*").alias("degree"))
    )
    closing = e.select("model_id", "a", F.col("b").alias("c"))
    tri = (
        e.join(
            e.select(
                "model_id", F.col("a").alias("b"), F.col("b").alias("c")
            ),
            ["model_id", "b"],
        )
        .join(closing, ["model_id", "a", "c"])
        .select(
            "model_id",
            F.explode(F.array("a", "b", "c")).alias("node"),
        )
        .groupBy("model_id", "node")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(tri, ["model_id", "node"], "left").withColumn(
        "n_tri", F.coalesce(F.col("n_tri"), F.lit(0)).cast("long")
    )


def _hub_pivots(t: DataFrame, hub_cap: int) -> DataFrame:
    """(model_id, node, nbr, w_deg, deg_f): the undirected causal
    adjacency in both directions, restricted to neighbors (pivots) whose
    own full degree w_deg is <= hub_cap, with deg_f = the node's degree
    over that restricted adjacency. The shared-neighbor join over it
    fans out at most hub_cap^2 rows per pivot. The adjacency is
    symmetric, so a pivot's full degree is its row count as `nbr`."""
    e = _undirected_causal(t)
    return (
        e.select("model_id", F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(e.select("model_id", F.col("b").alias("node"),
                           F.col("a").alias("nbr")))
        .withColumn("w_deg", F.count("*").over(Window.partitionBy("model_id", "nbr")))
        .filter(F.col("w_deg") <= hub_cap)
        .withColumn("deg_f", F.count("*").over(Window.partitionBy("model_id", "node")))
        .localCheckpoint(eager=True)
    )


def causal_paths(t: DataFrame, max_depth: int = 4) -> DataFrame:
    """Bounded-depth causal reachability: the min-hop closure of the
    8-relation causal family within each model — the "what is upstream
    of what, and how far" table a pathway analyst asks of the finished
    GO-CAM graph (the multi-hop extension of
    Manuscript.getCausalComparison:438-547's single-hop pair census).

    Returns (model_id, src, dst, depth), depth = minimum number of
    causal hops from src to dst, 1 <= depth <= max_depth.

    Scale shape: classic BFS frontier layering over PAIRS — iteration d
    is one shuffle join keyed by (model_id, node) (frontier.dst =
    edges.src) plus a left-anti against the seen set, so a pair is
    discovered exactly once, at its minimum depth, and cycles terminate
    without any cycle check. At most max_depth joins run; the frontier
    AND the accumulated seen set are localCheckpointed each round — the
    frontier to truncate lineage, the seen set so the next round's
    anti-join probes a materialized leaf instead of a growing Union plan
    (a cluster deployment swaps in reliable checkpoint()). The only
    driver traffic is the 1-row empty-frontier probe that exits early.
    Keys carry model_id, so no cross-model hub node ever becomes a
    single shuffle key."""
    edges = _causal_edges(t)
    seen = edges.withColumn("depth", F.lit(1))
    frontier = edges
    for depth in range(2, max_depth + 1):
        step = (
            frontier.alias("f")
            .join(
                edges.alias("e"),
                on=[
                    F.col("f.model_id") == F.col("e.model_id"),
                    F.col("f.dst") == F.col("e.src"),
                ],
            )
            .select(
                F.col("f.model_id").alias("model_id"),
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
            )
            .distinct()
            .join(
                seen.select("model_id", "src", "dst"),
                ["model_id", "src", "dst"],
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        if not step.head(1):
            break
        seen = seen.unionByName(
            step.withColumn("depth", F.lit(depth))
        ).localCheckpoint(eager=True)
        frontier = step
    return seen


def causal_pagerank(
    t: DataFrame, iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Per-model PageRank over the causal-edge graph: which reactions
    does the pathway's causal structure concentrate influence on — the
    graph-centrality extension of the single-hop causal census
    (Manuscript.getCausalComparison:438-547), asked of the finished
    GO-CAM graph.

    Simplified (dangling mass dropped) power iteration:
    pr_0 = round6(1/N); pr_{k+1}(v) = round6(round6((1-d)/N) +
    d * round6(sum_{u->v} round6(pr_k(u) / outdeg(u)))) — every float
    step rounded to 6 decimals and the incoming sum computed as a
    SORT-FOLD (F.aggregate over sort_array(collect_list)), so the
    result is bit-identical in any engine regardless of aggregation
    order (same determinism treatment as bigram_lm_score / dsir).

    Scale shape: one iteration = one join keyed by (model_id, src) +
    one groupBy keyed by (model_id, dst) — both carry model_id, so no
    cross-model hub node becomes a single shuffle key; ranks are
    localCheckpointed per iteration to truncate lineage (a cluster
    deployment swaps in reliable checkpoint()). State is bounded by
    the node domain, never the corpus.

    Returns (model_id, node, pr, n_nodes)."""
    edges = _causal_edges(t)
    nodes = (
        edges.select("model_id", F.col("src").alias("node"))
        .unionByName(edges.select("model_id", F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.groupBy("model_id").agg(F.count("*").alias("n"))
    nodes = nodes.join(nn, "model_id").localCheckpoint(eager=True)
    outdeg = edges.groupBy("model_id", "src").agg(
        F.count("*").alias("od")
    )
    ranks = nodes.select(
        "model_id", "node", "n", F.round(F.lit(1.0) / F.col("n"), 6).alias("pr")
    ).localCheckpoint(eager=True)
    # round the numerator itself first: Python's 1.0 - 0.85 is
    # 0.15000000000000002, but the SQL mirror writes the literal 0.15 —
    # round6 lands both on the identical double before the division
    base = F.round(
        F.round(F.lit(1.0 - damping), 6) / F.col("n"), 6
    )
    for _ in range(iters):
        contrib = (
            edges.join(
                ranks.select("model_id", F.col("node").alias("src"), "pr"),
                ["model_id", "src"],
            )
            .join(outdeg, ["model_id", "src"])
            .select(
                "model_id", "dst",
                F.round(F.col("pr") / F.col("od"), 6).alias("c"),
            )
        )
        incoming = contrib.groupBy("model_id", "dst").agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("c")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("s")
        )
        ranks = (
            nodes.join(
                incoming.withColumnRenamed("dst", "node"),
                ["model_id", "node"],
                "left",
            )
            .select(
                "model_id", "node", "n",
                F.round(
                    base
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "model_id", "node", "pr", F.col("n").alias("n_nodes")
    )


def causal_triangles(t: DataFrame) -> DataFrame:
    """Per-model triangle census + global clustering coefficient over
    the undirected causal graph — the feedback-loop / mutual-regulation
    density analytics a pathway analyst asks of the finished GO-CAM
    corpus (the motif extension of the single-hop causal census,
    Manuscript.getCausalComparison:438-547).

    The model totals are sums over node_clustering's per-node
    (degree, n_tri) frame (_node_triangles): n_edges = sum(d) / 2,
    n_wedges = sum(d * (d - 1)) / 2, n_triangles = sum(n_tri) / 3 (each
    triangle credits three corners) — no second enumeration.

    Returns (model_id, n_edges, n_wedges, n_triangles, clustering) with
    clustering = round(3 * triangles / wedges, 6) (0.0 when wedge-free).
    """
    d = F.col("degree")
    out = _node_triangles(t).groupBy("model_id").agg(
        (F.sum(d) / 2).cast("long").alias("n_edges"),
        (F.sum(d * (d - 1)) / 2).cast("long").alias("n_wedges"),
        (F.sum("n_tri") / 3).cast("long").alias("n_triangles"),
    )
    return out.select(
        "model_id", "n_edges", "n_wedges", "n_triangles",
        F.round(
            F.when(F.col("n_wedges") > 0,
                   3.0 * F.col("n_triangles") / F.col("n_wedges"))
            .otherwise(F.lit(0.0)), 6,
        ).alias("clustering"),
    )


def kg_components(t: DataFrame) -> DataFrame:
    """Per-model weakly-connected components over the full KG edge set
    (every relation in vocab.EDGE_PREDS) — the graph-health report that
    flags models whose pathway fractured into disconnected islands
    during conversion (the reference's reasoner notices only ontology
    inconsistency, not graph fragmentation).

    Reuses the dedup engine's connected-components core
    (dedup.duplicate_clusters — iterative min-label propagation, one
    (node)-keyed shuffle per round, scalar-only driver traffic); nodes
    are namespaced as model\\x1fnode so components can never leak across
    models while still running as ONE global job over the whole corpus.

    Returns (model_id, n_nodes, n_components, largest_component).
    """
    from pathways2go_spark.dedup import duplicate_clusters
    from pathways2go_spark.vocab import EDGE_PREDS

    sep = "\x1f"
    e = (
        t.filter(F.col("pred").isin(EDGE_PREDS))
        .select(
            F.concat_ws(sep, "model_id", "subj").alias("a"),
            F.concat_ws(sep, "model_id", "obj").alias("b"),
        )
        .distinct()
    )
    comp = duplicate_clusters(e)
    sizes = (
        comp.withColumn("model_id", F.substring_index("doc_id", sep, 1))
        .groupBy("model_id", "cluster_id")
        .agg(F.count("*").alias("sz"))
    )
    return sizes.groupBy("model_id").agg(
        F.sum("sz").cast("long").alias("n_nodes"),
        F.count("*").cast("long").alias("n_components"),
        F.max("sz").cast("long").alias("largest_component"),
    )


def dag_levels(t: DataFrame, max_levels: int = 8) -> DataFrame:
    """Topological layering of each model's causal graph — the
    "execution order" view of a pathway: level 0 = nodes with no
    incoming causal edge (the pathway's entry points), level k = nodes
    whose every upstream regulator is already layered, placed one past
    their deepest predecessor (longest-path layering, Kahn peeling).
    Nodes on or downstream-locked-behind a causal CYCLE (feedback loops
    are real GO-CAM biology) never settle and report level = -1 — the
    analyst's signal that ordering is undefined there.

    Returns (model_id, node, level), covering every causal endpoint.

    Scale shape: each peel round is ONE join keyed by (model_id, dst)
    against the settled set plus a groupBy on the same key — a node
    settles exactly once, rounds are bounded by `max_levels`, and the
    settled set is localCheckpointed per round (reliable checkpoint()
    on a cluster) so round k's anti-join probes a materialized leaf.
    All keys carry model_id: no cross-model hub. The early-exit probe
    is a 1-row head — the only driver traffic."""
    edges = _causal_edges(t)
    nodes = (
        edges.select("model_id", F.col("src").alias("node"))
        .unionByName(edges.select("model_id", F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    settled = (
        nodes.join(
            edges.select("model_id", F.col("dst").alias("node")).distinct(),
            ["model_id", "node"],
            "left_anti",
        )
        .withColumn("level", F.lit(0))
        .localCheckpoint(eager=True)
    )
    for _ in range(1, max_levels + 1):
        # a node settles when ALL its in-edges originate from settled
        # nodes; its level is 1 + the max of those predecessors
        cand = (
            edges.join(
                settled.select("model_id", "node", "level").withColumnRenamed(
                    "node", "src"
                ).withColumnRenamed("level", "src_level"),
                ["model_id", "src"],
                "left",
            )
            .groupBy("model_id", F.col("dst").alias("node"))
            .agg(
                F.count("*").alias("n_in"),
                F.count("src_level").alias("n_settled"),
                F.max("src_level").alias("max_lvl"),
            )
            .filter(F.col("n_in") == F.col("n_settled"))
            .join(settled.select("model_id", "node"),
                  ["model_id", "node"], "left_anti")
            .select("model_id", "node",
                    (F.col("max_lvl") + 1).alias("level"))
            .localCheckpoint(eager=True)
        )
        if not cand.head(1):
            break
        settled = settled.unionByName(cand).localCheckpoint(eager=True)
    return nodes.join(settled, ["model_id", "node"], "left").select(
        "model_id", "node",
        F.coalesce(F.col("level"), F.lit(-1)).cast("int").alias("level"),
    )


def kcore(
    t: DataFrame,
    k: int = 2,
    max_rounds: int = 8,
    preds: list[str] | None = None,
) -> DataFrame:
    """The k-core of each model's undirected STRUCTURAL graph — the
    maximal subgraph where every node keeps >= k neighbors (Seidman
    1983, public method): iteratively peel nodes of degree < k until a
    fixed point. The 2-core is the pathway's feedback/redundancy
    skeleton — everything outside it is tree-like periphery whose
    causal order the dag-levels view already explains.

    `preds` selects the edge family; default = every predicate except
    'type' (class assertions are node attributes, not structure — a
    popular GO term would otherwise weld unrelated reactions into one
    fake core). Pass CAUSAL_FAMILY for the causal-only skeleton.

    Returns (model_id, node, core_degree) for the surviving nodes,
    core_degree = the node's degree inside the k-core.

    Scale shape: each peel round is one (model_id, node)-keyed degree
    groupBy + one semi-join of edges against surviving endpoints —
    both partial-aggregated, no cross-model key. Rounds are bounded by
    `max_rounds` with a 1-row early-exit probe; the surviving edge set
    shrinks monotonically and is localCheckpointed per round (reliable
    checkpoint() on a cluster)."""
    cond = (
        F.col("pred").isin(preds) if preds is not None
        else (F.col("pred") != "type")
    )
    und = (
        t.filter(cond)
        .select("model_id", F.col("subj").alias("a"),
                F.col("obj").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    edges = (
        und.select("model_id", F.least("a", "b").alias("a"),
                   F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        deg = (
            edges.select("model_id", F.col("a").alias("node"))
            .unionByName(edges.select("model_id", F.col("b").alias("node")))
            .groupBy("model_id", "node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("model_id", "node")
        nxt = (
            edges.join(
                keep.withColumnRenamed("node", "a"), ["model_id", "a"],
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("node", "b"), ["model_id", "b"],
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        if nxt.count() == edges.count():
            edges = nxt
            break
        edges = nxt
    return (
        edges.select("model_id", F.col("a").alias("node"))
        .unionByName(edges.select("model_id", F.col("b").alias("node")))
        .groupBy("model_id", "node")
        .agg(F.count("*").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def term_cooccurrence(t: DataFrame, min_support: int = 1) -> DataFrame:
    """Ontology-term co-annotation affinity: for every unordered pair of
    classes typed into the same model, in how many models they co-occur
    — the cross-model "terms that travel together" census behind
    term-similarity and module detection (the pairwise refinement of
    Manuscript.buildVenn's per-dimension sets, Manuscript.java:365-436).

    Returns (term_a, term_b, n_models), term_a < term_b,
    n_models >= min_support.

    Scale shape: one distinct projection to (model_id, term), then a
    self-join keyed by model_id — bounded by the per-model term count
    (tens), the same justification as the triangle census, never a
    corpus-sized key — and one groupBy on the pair. min_support filters
    AFTER the count (it must see all models), but the pair domain is
    term-vocabulary-bounded, not corpus-bounded."""
    terms = (
        t.filter(F.col("pred") == "type")
        .select("model_id", F.col("obj").alias("term"))
        .distinct()
    )
    pairs = (
        terms.alias("x")
        .join(terms.alias("y"), "model_id")
        .filter(F.col("x.term") < F.col("y.term"))
        .select(
            F.col("x.term").alias("term_a"),
            F.col("y.term").alias("term_b"),
            "model_id",
        )
    )
    return (
        pairs.groupBy("term_a", "term_b")
        .agg(F.count_distinct("model_id").alias("n_models"))
        .filter(F.col("n_models") >= min_support)
    )


def term_semsim(
    t: DataFrame, ancestors: DataFrame, min_support: int = 1
) -> DataFrame:
    """Ontology-graph semantic similarity for co-annotated class pairs:
    for every unordered pair of classes typed into the same model
    (term_cooccurrence), the Jaccard similarity of their subclass
    ancestor closures — the standard graph-based GO term-similarity
    measure (Pesquita et al. 2009) over the same closure dim the typing
    ladder consumes (reference consumes these closures via OWL
    reasoning, GoCAM.java subclass queries).

    Returns (term_a, term_b, n_models, n_common, n_union, jaccard);
    closure sets include the class itself (the dim materializes
    reflexive rows), so n_union >= 1 for any ontology term; terms
    absent from the dim get empty sets and jaccard 0.

    Scale shape: the corpus contributes ONLY the distinct
    (model_id, term) projection (one shuffle, map-side combinable);
    everything after — the pair domain, both closure joins, the size
    dim — is bounded by the ontology vocabulary, not the corpus, and
    the closure table broadcasts (GO+RO closures are ~1e6 rows). The
    intersection count is two broadcast hash joins + one pair-keyed
    groupBy, never an ancestor-keyed shuffle, so the ontology roots
    (ancestors of everything) never become hub keys.

    jaccard is fixed-pointed (floor(x*1e6+0.5)/1e6) so the one float
    division is bit-identical across engines."""
    pairs = term_cooccurrence(t, min_support)
    anc = ancestors.select(
        F.col("class_iri").alias("term"), F.col("ancestor_iri").alias("anc")
    )
    sizes = anc.groupBy("term").agg(F.count("*").alias("n_closure"))
    common = (
        pairs.select("term_a", "term_b")
        .join(
            F.broadcast(anc.select(F.col("term").alias("term_a"), "anc")),
            "term_a",
        )
        .join(
            F.broadcast(anc.select(F.col("term").alias("term_b"), "anc")),
            ["term_b", "anc"],
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_common"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
    n_union = (
        F.coalesce(F.col("n_a"), F.lit(0))
        + F.coalesce(F.col("n_b"), F.lit(0))
        - n_common
    ).cast("long")
    jac = F.when(
        n_union > 0,
        F.floor(n_common.cast("double") / n_union * 1e6 + 0.5) / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        pairs.join(common, ["term_a", "term_b"], "left")
        .join(
            F.broadcast(
                sizes.select(
                    F.col("term").alias("term_a"),
                    F.col("n_closure").alias("n_a"),
                )
            ),
            "term_a",
            "left",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("term").alias("term_b"),
                    F.col("n_closure").alias("n_b"),
                )
            ),
            "term_b",
            "left",
        )
        .select(
            "term_a",
            "term_b",
            "n_models",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
            jac.alias("jaccard"),
        )
    )


def motif_census(t: DataFrame) -> DataFrame:
    """2-hop edge-motif census: how often does an edge of pred_a feed an
    edge of pred_b (subj -a-> mid -b-> obj) within a model, across the
    corpus — the structural fingerprint of the rule engine's output
    (e.g. enabled_by feeding causally-upstream = the canonical GO-CAM
    activity chain), and the quickest cross-release regression signal
    for rule changes.

    One self-join keyed on (model_id, mid): fan-out at a mid node is
    in-degree x out-degree WITHIN its model, bounded by model size —
    no corpus-wide hub key. Output (pred_a, pred_b, n_paths, n_models)."""
    e = t.filter(F.col("pred").isin(V.EDGE_PREDS)).select(
        "model_id", "subj", "pred", "obj"
    )
    a = e.select(
        "model_id",
        F.col("pred").alias("pred_a"),
        F.col("obj").alias("mid"),
    )
    b = e.select(
        "model_id",
        F.col("subj").alias("mid"),
        F.col("pred").alias("pred_b"),
    )
    return (
        a.join(b, ["model_id", "mid"])
        .groupBy("pred_a", "pred_b")
        .agg(
            F.count("*").alias("n_paths"),
            F.countDistinct("model_id").alias("n_models"),
        )
    )


def node_clustering(t: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the undirected causal
    graph — which specific molecules sit inside mutual-regulation
    cliques (the node-level drill-down of causal_triangles' global
    coefficient): c(v) = 2 * tri(v) / (d(v) * (d(v) - 1)).

    The per-node (degree, n_tri) frame (_node_triangles) is the one
    causal_triangles sums; only nodes with degree >= 2 (wedge-capable)
    surface. Coefficient is fixed-point-rounded from exact integer
    counts. Returns (model_id, node, degree, n_tri, coeff)."""
    coeff = F.floor(
        2 * F.col("n_tri")
        / (F.col("degree") * (F.col("degree") - 1))
        * 1e6
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        _node_triangles(t).filter(F.col("degree") >= 2)
        .select(
            "model_id",
            "node",
            "degree",
            "n_tri",
            F.when(F.col("n_tri") > 0, coeff)
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def neighbor_jaccard(
    t: DataFrame,
    hub_cap: int = 64,
    min_common: int = 1,
) -> DataFrame:
    """Structural node-pair similarity: Jaccard of causal neighborhoods
    per model — the classic link-prediction / redundant-regulator
    primitive (two molecules regulated by and regulating the same
    partners are functional analogues even when no edge joins them
    directly).

    Semantics: over the same canonical undirected causal edge set as
    node_clustering / causal_triangles, a node's neighborhood is its
    adjacent nodes whose OWN degree is <= hub_cap ("hub-filtered
    Jaccard"). Dropping hub pivots from BOTH the common count and the
    per-node degrees keeps the measure self-consistent while bounding
    the pair fan-out: a shared neighbor of degree d generates d*(d-1)/2
    candidate pairs, so one corpus-wide hub (a ubiquitous small
    molecule like ATP) would otherwise dominate the join quadratically.
    At 100 TB the (model_id, pivot) equi-join fans out at most
    hub_cap^2 rows per pivot — skew is capped by construction, not by
    salting after the fact.

    jaccard(x, y) = |N(x) & N(y)| / |N(x) | N(y)|
                  = common / (deg(x) + deg(y) - common),
    fixed-point rounded (1e-6) from exact integer counts so the value
    hashes identically across engines.

    Returns (model_id, node_a, node_b, n_common, jaccard) for pairs
    with n_common >= min_common, node_a < node_b.
    """
    p = _hub_pivots(t, hub_cap)
    n_common = F.col("n_common")
    return (
        p.select("model_id", F.col("node").alias("node_a"), "nbr",
                 F.col("deg_f").alias("da"))
        .join(p.select("model_id", F.col("node").alias("node_b"), "nbr",
                       F.col("deg_f").alias("db")), ["model_id", "nbr"])
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("model_id", "node_a", "node_b")
        .agg(F.count("*").alias("n_common"), F.max("da").alias("da"),
             F.max("db").alias("db"))
        .filter(n_common >= min_common)
        .select(
            "model_id", "node_a", "node_b", "n_common",
            (F.floor(n_common / (F.col("da") + F.col("db") - n_common) * 1e6
                     + F.lit(0.5)) / F.lit(1e6)).alias("jaccard"),
        )
    )


def resource_allocation(
    t: DataFrame,
    hub_cap: int = 64,
    min_common: int = 1,
) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou/Lu/Zhang 2009)
    over the undirected causal graph, per model: for a node pair, the
    sum of 1/deg(w) over shared neighbors w — neighbor_jaccard's
    discriminating cousin (a shared RARE partner is strong evidence of
    functional analogy; a shared near-hub says little, and RA weights
    them accordingly).

    Same hub-capped pivot join as neighbor_jaccard (pivots above
    hub_cap are dropped, bounding the pair fan-out by construction).
    The index is computed in integer MICRO-UNITS — each pivot
    contributes floor(1e6 / deg(w)), with deg(w) the pivot's FULL
    unfiltered degree (the hub cap only bounds which pivots join, not
    the weight they carry), and the pair score is the exact integer
    sum — so the result hashes identically across engines with no
    float-summation order concerns.

    Returns (model_id, node_a, node_b, n_common, ra_micro) for pairs
    with n_common >= min_common, node_a < node_b.
    """
    p = _hub_pivots(t, hub_cap)
    return (
        p.select("model_id", F.col("node").alias("node_a"), "nbr", "w_deg")
        .join(p.select("model_id", F.col("node").alias("node_b"), "nbr"),
              ["model_id", "nbr"])
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("model_id", "node_a", "node_b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.floor(F.lit(1_000_000) / F.col("w_deg")))
            .cast("long")
            .alias("ra_micro"),
        )
        .filter(F.col("n_common") >= min_common)
    )
