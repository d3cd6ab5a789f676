"""Stage A — BioPAX-object -> candidate GO-CAM triples (A1-A27).

Re-expresses BioPaxtoGO.defineReactionEntity / definePathwayEntity
(BioPaxtoGO.java:764-1920) as declarative DataFrame transformations over
the normalized elements / element_links frames. Every join is either
(a) keyed on (doc_id, elem_id) — co-partitioned with the fact tables, or
(b) a broadcast hash join against a bounded dimension (dims.py).

Operators implemented (SURVEY.md §2.3):
  A1/A2  disease-pathway + reaction filter (keepPathway :480-534)
  A4/A7  pathway typing ladder (definePathwayEntity :764-996)
  A5     pathway-component part_of (:820-869)
  A6     step-order causal edges (:873-932)
  A8/A9  entity ref-id + class-IRI resolution (:345-473, :1922-1971)
  A10    reaction EC->GO MF typing (:2210-2241)
  A11    controller-EC typing for untyped reactions (:2243-2277)
  A12    exactMatch provenance on every entity instance (:1141)
  A13    cellular-location extraction (:1232-1268)
  A14    controller-complex explosion -> has_part (:1148-1215)
  A15    generic interaction pairwise interacts_with (:1332-1374)
  A16    template-reaction products (:1375-1387)
  A17    direction resolution incl. stepDirection (:715-734, :1400-1422)
  A18    has_input/has_output with small-molecule instance reuse (:1424-1519)
  A19    control -> enabled_by / involved_in_*_regulation_of (:1539-1600)
  A20/21 active-unit resolution + enablement rewiring (:2027-2133, :1692-1744)
  A22    control GO-xref types the reaction (:1601-1614)
  A23    reaction BP-xref linkage: BP individual via part_of, default
         pathway edge dropped (:1786-1820, issue #66)
  A24    molecular_event fallback typing incl. accumulated go_bp (:1829-1911)
  A25    drug detection & reaction registration (PEOB.java:1016-1073)
  A26    upstream-controller import, OFF by default (:1616-1663)
  A27    evidence column (ECO_0000313) on every assertion
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import Dims, sssom_best
from .stage_b import par

ENTITY_KINDS = ["protein", "small_molecule", "complex", "entity_set", "dna", "rna"]
EVENT_KINDS = ["reaction", "degradation", "template_reaction", "interaction"]

def _priority() -> Column:
    return F.array(*[F.lit(x) for x in V.SET_ROOT_PRIORITY])


@dataclass
class StageA:
    triples: DataFrame          # model_id, subj, pred, obj, evidence, rule
    drug_reactions: DataFrame   # model_id, reaction


def _triples(df: DataFrame, subj: Column, pred, obj: Column, rule: str) -> DataFrame:
    pred_col = F.lit(pred) if isinstance(pred, str) else pred
    return df.select(
        F.col("doc_id").alias("model_id"),
        subj.alias("subj"),
        pred_col.alias("pred"),
        obj.alias("obj"),
        F.lit(V.ECO_IMPORTED).alias("evidence"),
        F.lit(rule).alias("rule"),
    )


def _attr(name: str) -> Column:
    return F.element_at(F.col("attrs"), name)


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)


# ----------------------------------------------------------------------
# pathways: disease filter + event->pathway membership
# ----------------------------------------------------------------------

def pathways_and_events(
    elements: DataFrame, links: DataFrame, disease_empty: bool
) -> tuple[DataFrame, DataFrame]:
    """A1/A2/A5: kept pathways + event membership.

    Disease ancestry (keepPathway BioPaxtoGO.java:480-534): a pathway is
    dropped when itself or any ancestor is flagged disease. Propagated by
    an iterative bounded-depth join (pathway DAGs are shallow).
    disease_empty: whether no pathway is flagged disease (extract()
    batches that probe with the active-unit probe into one concurrent
    round); True skips the propagation loop."""
    pw = elements.filter(F.col("kind") == "pathway").select(
        "doc_id",
        F.col("elem_id").alias("pid"),
        _attr("displayName").alias("display_name"),
        _attr("goXref").alias("go_xref"),
        (F.coalesce(_attr("isDisease"), F.lit("0")) == "1").alias("is_disease"),
    )
    # parent edges: explicit parentId links + component links whose target
    # is itself a pathway (super-pathway containment)
    pids = pw.select("doc_id", "pid")
    parent_edges = (
        links.filter(F.col("link") == "parent")
        .select("doc_id", F.col("src_id").alias("child"), F.col("dst_id").alias("parent"))
        .unionByName(
            links.filter(F.col("link") == "component")
            .join(pids, (links.doc_id == pids.doc_id) & (links.dst_id == pids.pid))
            .select(links.doc_id, F.col("dst_id").alias("child"), F.col("src_id").alias("parent"))
        )
        .distinct()
    )
    bad = pw.filter("is_disease").select("doc_id", "pid")
    # short-circuit: no disease seed -> no propagation loop, instead of a
    # join+checkpoint job per would-be iteration (the distributed path
    # mostly carries clean mega-docs)
    if not disease_empty:
        for _ in range(12):
            more = (
                parent_edges.join(
                    bad.withColumnRenamed("pid", "parent"), ["doc_id", "parent"]
                )
                .select("doc_id", F.col("child").alias("pid"))
                .join(bad, ["doc_id", "pid"], "left_anti")
                .distinct()
                .localCheckpoint(eager=True)
            )
            if more.isEmpty():
                break
            bad = bad.unionByName(more)
    kept = pw.join(bad, ["doc_id", "pid"], "left_anti")

    ev = elements.filter(F.col("kind").isin(EVENT_KINDS)).select(
        "doc_id", F.col("elem_id").alias("event_id"), F.col("kind").alias("event_kind")
    )
    event_pathway = (
        links.filter(F.col("link") == "component")
        .join(kept.select("doc_id", "pid"),
              (links.doc_id == kept.doc_id) & (links.src_id == kept.pid))
        .select(links.doc_id, F.col("dst_id").alias("event_id"), F.col("src_id").alias("pathway_id"))
        .join(ev, ["doc_id", "event_id"])
    )
    return kept, event_pathway


# ----------------------------------------------------------------------
# entity master: A8/A9/A13/A25 + entity-set root election (E3)
# ----------------------------------------------------------------------

def entity_master(elements: DataFrame, links: DataFrame, dims: Dims) -> DataFrame:
    ent0 = elements.filter(F.col("kind").isin(ENTITY_KINDS)).select(
        "doc_id",
        "elem_id",
        "kind",
        _attr("chebi").alias("chebi"),
        _attr("uniprot").alias("uniprot"),
        _attr("accession").alias("accession"),
        _attr("location").alias("location"),
        _attr("drugXref").alias("drug_xref"),
    )
    gpi = (
        dims.accession_map.filter(F.col("source") == "gpi")
        .select(F.col("acc").alias("g_acc"), F.col("target_iri").alias("gpi_cls"))
    )
    locx = dims.onto_xrefs.filter(F.col("xref").startswith("LOC:")).select(
        F.col("xref").alias("l_xref"), F.col("class_iri").alias("loc_gocc")
    )
    ent = (
        ent0.join(F.broadcast(gpi), ent0.accession == gpi.g_acc, "left")
        .join(F.broadcast(locx),
              F.concat(F.lit("LOC:"), F.col("location")) == F.col("l_xref"), "left")
        .drop("g_acc", "l_xref")
    )
    k = F.col("kind")
    ref_id = (
        F.when(k == "protein", F.coalesce("uniprot", "accession", "elem_id"))
        .when(k == "small_molecule", F.coalesce("chebi", "elem_id"))
        .otherwise(F.col("elem_id"))
    )
    class_iri = (
        F.when(k == "protein",
               F.coalesce(F.concat(F.lit("UniProtKB_"), F.col("uniprot")),
                          F.col("gpi_cls"), F.lit(V.PROTEIN_ROOT)))
        .when(k == "small_molecule", F.coalesce("chebi", F.lit(V.CHEMICAL_ROOT)))
        .when(k == "complex", F.concat(F.lit("REACTO_"), F.col("elem_id")))
        .when(k == "dna", F.lit(V.DNA_ROOT))
        .when(k == "rna", F.lit(V.RNA_ROOT))
        .otherwise(F.lit(None).cast("string"))
    )
    ent = ent.withColumn("ref_id", ref_id).withColumn("class_iri", class_iri)

    # entity-set root election (checkForAndAddSet, PEOB.java:864-989):
    # highest-priority root class among the members' ancestor sets
    members = links.filter(F.col("link") == "member").select(
        "doc_id", F.col("src_id").alias("set_id"), F.col("dst_id").alias("member_id")
    )
    mem_cls = members.join(
        ent.filter(k != "entity_set").select("doc_id", F.col("elem_id").alias("member_id"),
                                             F.col("class_iri").alias("mcls")),
        ["doc_id", "member_id"],
    )
    mem_rank = (
        mem_cls.join(F.broadcast(dims.onto_ancestors),
                     mem_cls.mcls == dims.onto_ancestors.class_iri)
        .withColumn("rank", F.array_position(_priority(), F.col("ancestor_iri")))
        .filter(F.col("rank") > 0)
        .groupBy("doc_id", "set_id")
        .agg(F.min("rank").alias("rank"))
        .select("doc_id", F.col("set_id").alias("elem_id"),
                F.element_at(_priority(), F.col("rank").cast("int")).alias("set_cls"))
    )
    ent = (
        ent.join(mem_rank, ["doc_id", "elem_id"], "left")
        .withColumn("class_iri",
                    F.coalesce("class_iri", "set_cls", F.lit(V.INFO_BIOMACRO)))
        .drop("set_cls")
    )

    # A25 drug flag: direct IUPHAR xref / drug_ids dim row, propagated
    # upward through complex components + set members (bounded depth).
    # Seeds come from the pre-join projection ent0 (identical doc_id/
    # elem_id/drug_xref values — the gpi/loc joins never touch them), so
    # the empty-seed short-circuit probe below costs one narrow elements
    # scan, not an execution of the full entity-master join tree.
    direct = (
        ent0.join(F.broadcast(dims.drug_ids.select(F.col("entity_id").alias("elem_id"))),
                  ["elem_id"], "left_semi")
        .select("doc_id", "elem_id")
        .unionByName(ent0.filter(F.col("drug_xref").isNotNull()).select("doc_id", "elem_id"))
        .distinct()
    )
    # short-circuit: no drug seed -> nothing propagates (same measured-
    # overhead argument as the disease loop)
    if direct.isEmpty():
        return ent.withColumn("is_drug", F.lit(False))
    containers = links.filter(F.col("link").isin("component", "member")).select(
        "doc_id", F.col("src_id").alias("parent"), F.col("dst_id").alias("child")
    )
    drugged = direct
    for _ in range(4):
        more = (
            containers.join(drugged.withColumnRenamed("elem_id", "child"),
                            ["doc_id", "child"])
            .select("doc_id", F.col("parent").alias("elem_id"))
            .join(drugged, ["doc_id", "elem_id"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if more.isEmpty():
            break
        drugged = drugged.unionByName(more)
    ent = ent.join(
        drugged.withColumn("is_drug", F.lit(True)), ["doc_id", "elem_id"], "left"
    ).withColumn("is_drug", F.coalesce("is_drug", F.lit(False)))
    return ent


def _entity_node_triples(df: DataFrame, node: str, rule: str) -> DataFrame:
    """type + exactMatch + located_in for an entity-instance node column.
    df needs: doc_id, <node>, class_iri, elem_id(ish) as ent_ref, loc_gocc."""
    frames = [
        _triples(df, F.col(node), V.TYPE, F.col("class_iri"), rule),
        _triples(df, F.col(node), V.EXACT, F.col("ent_ref"), rule),
    ]
    with_loc = df.filter(F.col("loc_gocc").isNotNull()).withColumn(
        "loc_node", F.concat(F.col(node), F.lit("~loc~"), F.col("loc_gocc"))
    )
    frames.append(_triples(with_loc, F.col(node), V.LOCATED_IN, F.col("loc_node"), "A13"))
    frames.append(_triples(with_loc, F.col("loc_node"), V.TYPE, F.col("loc_gocc"), "A13"))
    return _union(frames)


# ----------------------------------------------------------------------
# main extraction
# ----------------------------------------------------------------------

def a26_upstream_imports(
    elements: DataFrame, links: DataFrame, event_pathway: DataFrame
) -> DataFrame:
    """A26 (OFF by default; `add_upstream_controller_events_from_other_
    pathways`, BioPaxtoGO.java:1616-1663): for every non-small-molecule
    controller of an in-pathway reaction that does not otherwise
    participate in the pathway, import the cross-pathway reactions that
    OUTPUT it (directionality assumption per :1640: the `right` side) as
    members of the controlled reaction's pathway — the normal extraction
    machinery then types them and emits their io/causal context."""
    kinds = elements.select("doc_id", "elem_id", "kind")
    ctl = links.filter(F.col("link") == "controller").select(
        "doc_id", F.col("src_id").alias("ctrl_id"), F.col("dst_id").alias("controller")
    )
    cted = links.filter(F.col("link") == "controlled").select(
        "doc_id", F.col("src_id").alias("ctrl_id"), F.col("dst_id").alias("event_id")
    )
    ep = event_pathway.select("doc_id", "event_id", "pathway_id")
    tgt = (
        ctl.join(cted, ["doc_id", "ctrl_id"])
        .join(ep, ["doc_id", "event_id"])
        .select("doc_id", "controller", "pathway_id")
        .join(kinds.filter(F.col("kind") != "small_molecule")
                   .select("doc_id", F.col("elem_id").alias("controller")),
              ["doc_id", "controller"], "left_semi")
        .distinct()
    )
    # skip controllers already participating in the pathway (:1628-1636)
    io = links.filter(F.col("link").isin("left", "right", "participant", "product")).select(
        "doc_id", F.col("src_id").alias("event_id"), F.col("dst_id").alias("controller")
    )
    in_p = io.join(ep, ["doc_id", "event_id"]).select(
        "doc_id", "controller", "pathway_id"
    )
    tgt = tgt.join(in_p, ["doc_id", "controller", "pathway_id"], "left_anti")
    # candidate reactions outside the pathway whose outputs contain the controller
    out_side = links.filter(F.col("link") == "right").select(
        "doc_id", F.col("src_id").alias("event_id"), F.col("dst_id").alias("controller")
    )
    cand = (
        tgt.join(out_side, ["doc_id", "controller"])
        .join(kinds.filter(F.col("kind") == "reaction")
                   .select("doc_id", F.col("elem_id").alias("event_id")),
              ["doc_id", "event_id"], "left_semi")
        .join(ep.withColumn("pathway_id", F.col("pathway_id")),
              ["doc_id", "event_id", "pathway_id"], "left_anti")
        .select("doc_id", "event_id", "pathway_id")
        .distinct()
        .withColumn("event_kind", F.lit("reaction"))
    )
    return cand


def extract(
    elements: DataFrame,
    links: DataFrame,
    dims: Dims,
    import_upstream_controllers: bool = False,
    test_pathways: list[str] | None = None,
    explode_entity_sets: bool = False,
) -> StageA:
    # the two input emptiness probes (disease pathways, active-unit
    # links) are independent scans of the checkpointed inputs — one
    # concurrent driver round instead of two sequential blocking jobs
    disease_empty, au_empty = par(
        lambda: elements.filter(
            (F.col("kind") == "pathway") & (_attr("isDisease") == "1")
        ).isEmpty(),
        lambda: links.filter(F.col("link") == "active_unit").isEmpty(),
    )
    kept_pw, event_pathway = pathways_and_events(
        elements, links, disease_empty=disease_empty
    )
    if test_pathways is not None:
        # A3 (the `-tp` allowlist, BioPaxtoGO.java:249-251): convert only
        # the named pathways
        kept_pw = kept_pw.filter(F.col("display_name").isin(test_pathways))
        event_pathway = event_pathway.join(
            kept_pw.select("doc_id", F.col("pid").alias("pathway_id")),
            ["doc_id", "pathway_id"], "left_semi",
        )
    if import_upstream_controllers:
        event_pathway = event_pathway.unionByName(
            a26_upstream_imports(elements, links, event_pathway)
        )
    ent = entity_master(elements, links, dims)
    # the two master tables are independent — materialize them on
    # concurrent driver threads (stage_b.par) instead of two sequential
    # blocking jobs
    event_pathway, ent = par(
        lambda: event_pathway.localCheckpoint(eager=True),
        lambda: ent.localCheckpoint(eager=True),
    )

    frames: list[DataFrame] = []

    # A23 (BioPaxtoGO.java:1786-1820): reactions carrying a GO BP
    # RelationshipXref. For typed reactions a dedicated BP individual is
    # created (part_of) and the default part_of-pathway edge is dropped
    # (issue #66); for untyped reactions the xref feeds the A24 ladder.
    bpx = elements.filter(
        F.col("kind").isin(EVENT_KINDS) & _attr("bpXref").isNotNull()
    ).select("doc_id", F.col("elem_id").alias("event_id"),
             _attr("bpXref").alias("bp_go"))

    # A5: part_of (deferred anti-join vs A23 below)

    # ------------------------------------------------------------------
    # A17/A18: reaction io
    # ------------------------------------------------------------------
    rxn = event_pathway.filter(F.col("event_kind").isin("reaction", "degradation"))
    rxn_attrs = elements.filter(F.col("kind").isin("reaction", "degradation")).select(
        "doc_id", F.col("elem_id").alias("event_id"),
        _attr("direction").alias("direction"), _attr("ecNumbers").alias("ec_numbers"),
    )
    steps = elements.filter(F.col("kind") == "step").select(
        "doc_id", F.col("elem_id").alias("step_id"), _attr("stepDirection").alias("step_dir")
    )
    step_process = links.filter(F.col("link") == "step_process").select(
        "doc_id", F.col("src_id").alias("step_id"), F.col("dst_id").alias("event_id")
    )
    rxn_stepdir = (
        steps.join(step_process, ["doc_id", "step_id"])
        .filter(F.col("step_dir").isNotNull())
        .groupBy("doc_id", "event_id")
        .agg(F.min("step_dir").alias("step_dir"))
    )
    rxn_dir = (
        rxn.join(rxn_attrs, ["doc_id", "event_id"], "left")
        .join(rxn_stepdir, ["doc_id", "event_id"], "left")
        .withColumn(
            "eff_dir",
            F.when(F.coalesce("step_dir", "direction", F.lit("LEFT-TO-RIGHT"))
                   == "RIGHT-TO-LEFT", F.lit("RIGHT-TO-LEFT"))
            .otherwise(F.lit("LEFT-TO-RIGHT")),
        )
        .select("doc_id", "event_id", "eff_dir", "ec_numbers")
    )

    io_links = links.filter(F.col("link").isin("left", "right")).select(
        "doc_id", F.col("src_id").alias("event_id"), F.col("link").alias("side"),
        F.col("dst_id").alias("elem_id"),
    )
    io = (
        io_links.join(rxn_dir, ["doc_id", "event_id"])
        .join(ent, ["doc_id", "elem_id"])
        .withColumn(
            "io_pred",
            F.when((F.col("side") == "left") == (F.col("eff_dir") == "LEFT-TO-RIGHT"),
                   F.lit(V.HAS_INPUT)).otherwise(F.lit(V.HAS_OUTPUT)),
        )
        .withColumn(
            "node",
            F.when(
                (F.col("kind") == "small_molecule")
                & F.col("chebi").isNotNull()
                & ~F.col("chebi").isin(V.DO_NOT_JOIN)
                & F.col("location").isNotNull(),
                F.concat("ref_id", F.lit("~"), "location"),
            ).otherwise(F.concat("ref_id", F.lit("~"), "event_id")),
        )
        .withColumn("ent_ref", F.col("elem_id"))
    )

    # ------------------------------------------------------------------
    # A19-A22: controls
    # ------------------------------------------------------------------
    ctl_base = elements.filter(F.col("kind") == "control").select(
        "doc_id", F.col("elem_id").alias("ctrl_id"), _attr("type").alias("ctype"),
        _attr("goXref").alias("ctl_go_xref"),
    )
    lk_to = lambda name, alias: links.filter(F.col("link") == name).select(  # noqa: E731
        "doc_id", F.col("src_id").alias("ctrl_id"), F.col("dst_id").alias(alias)
    )
    ctl = (
        ctl_base.join(lk_to("controller", "controller_id"), ["doc_id", "ctrl_id"])
        .join(lk_to("controlled", "event_id"), ["doc_id", "ctrl_id"])
        .join(lk_to("active_unit", "au_id"), ["doc_id", "ctrl_id"], "left")
        .join(rxn.select("doc_id", "event_id"), ["doc_id", "event_id"], "left_semi")
        .join(ent.withColumnRenamed("elem_id", "controller_id"),
              ["doc_id", "controller_id"])
    )

    drug_from_ctl = ctl.filter("is_drug").select(
        F.col("doc_id").alias("model_id"), F.col("event_id").alias("reaction")
    )
    ctl = ctl.filter(~F.col("is_drug")).withColumn(
        "ctl_node", F.concat("ref_id", F.lit("~"), "event_id", F.lit("~ctl"))
    )
    # io and ctl are independent join trees over the same checkpointed
    # inputs — one concurrent materialization round instead of two
    # sequential blocking jobs
    io, ctl = par(
        lambda: io.localCheckpoint(eager=True),
        lambda: ctl.localCheckpoint(eager=True),
    )
    frames.append(_triples(io, F.col("event_id"), F.col("io_pred"), F.col("node"), "A18"))
    frames.append(_entity_node_triples(io, "node", "A18"))

    # active-unit resolution (A20, getComplexActiveUnitRecursive :2027-2083):
    # non-complex target -> itself; complex -> single non-small-molecule
    # component, else all-protein single-UniProt group -> min elem_id.
    # Short-circuit: no active_unit links anywhere -> the whole resolution
    # join tree (and its extra ctl re-checkpoint) is skipped; the au
    # columns become null projections over the already-materialized ctl.
    if au_empty:
        nullc = F.lit(None).cast("string")
        ctl = (
            ctl.withColumn("au_entity", nullc).withColumn("au_ref", nullc)
            .withColumn("au_cls", nullc).withColumn("au_loc", nullc)
            .withColumn("au_node", nullc)
        )
    else:
        au_req = ctl.filter(F.col("au_id").isNotNull()).select(
            "doc_id", "ctrl_id", F.col("au_id").alias("au_target")
        )
        au_kind = ent.select("doc_id", F.col("elem_id").alias("au_target"),
                             F.col("kind").alias("au_target_kind"))
        comp = links.filter(F.col("link") == "component").select(
            "doc_id", F.col("src_id").alias("au_target"),
            F.col("dst_id").alias("child_id")
        )
        comp_ent = comp.join(
            ent.select("doc_id", F.col("elem_id").alias("child_id"),
                       F.col("kind").alias("child_kind"),
                       F.col("uniprot").alias("child_uniprot")),
            ["doc_id", "child_id"],
        ).filter(F.col("child_kind") != "small_molecule")
        reduced = (
            comp_ent.groupBy("doc_id", "au_target")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("child_kind") == "protein", 1)
                      .otherwise(0)).alias("n_prot"),
                F.countDistinct("child_uniprot").alias("n_uni"),
                F.min("child_id").alias("min_child"),
            )
            .withColumn(
                "reduced_au",
                F.when(F.col("n") == 1, F.col("min_child")).when(
                    (F.col("n") == F.col("n_prot")) & (F.col("n_uni") == 1),
                    F.col("min_child"),
                ),
            )
            .select("doc_id", "au_target", "reduced_au")
        )
        au_resolved = (
            au_req.join(au_kind, ["doc_id", "au_target"], "left")
            .join(reduced, ["doc_id", "au_target"], "left")
            .withColumn(
                "au_entity",
                F.when(F.col("au_target_kind") != "complex", F.col("au_target"))
                .otherwise(F.col("reduced_au")),
            )
            .filter(F.col("au_entity").isNotNull())
            .select("doc_id", "ctrl_id", "au_entity")
        )
        ctl = ctl.join(au_resolved, ["doc_id", "ctrl_id"], "left")
        au_info = ent.select(
            "doc_id", F.col("elem_id").alias("au_entity"),
            F.col("ref_id").alias("au_ref"), F.col("class_iri").alias("au_cls"),
            F.col("loc_gocc").alias("au_loc"),
        )
        ctl = ctl.join(au_info, ["doc_id", "au_entity"], "left").withColumn(
            "au_node",
            F.when(F.col("au_entity").isNotNull(),
                   F.concat("au_ref", F.lit("~"), "event_id", F.lit("~au"))),
        ).localCheckpoint(eager=True)

    # controller node: type + exact + located_in (+GO_0032991 for complexes)
    ctl_ent = ctl.withColumn("ent_ref", F.col("controller_id"))
    frames.append(_entity_node_triples(ctl_ent, "ctl_node", "A19"))
    cplx_ctl = ctl.filter(F.col("kind") == "complex")
    frames.append(
        _triples(cplx_ctl, F.col("ctl_node"), V.TYPE, F.lit(V.COMPLEX_GO), "A14")
    )

    # A14 explosion: controller-complex components -> has_part (recursive)
    frontier = cplx_ctl.select(
        "doc_id", F.col("ctl_node").alias("parent_node"),
        F.col("controller_id").alias("parent_eid"),
    ).distinct()
    comp_edges = links.filter(F.col("link") == "component").select(
        "doc_id", F.col("src_id").alias("parent_eid"), F.col("dst_id").alias("child_id")
    )
    child_ent = ent.select(
        "doc_id", F.col("elem_id").alias("child_id"), F.col("kind").alias("child_kind"),
        F.col("class_iri").alias("child_cls"),
    )
    # short-circuit: no complex controllers -> no explosion (one probe of
    # the checkpointed ctl table vs a join+checkpoint round)
    for _ in range(5 if not frontier.isEmpty() else 0):
        kids = (
            frontier.join(comp_edges, ["doc_id", "parent_eid"])
            .join(child_ent, ["doc_id", "child_id"])
            .filter(F.col("child_kind") != "small_molecule")
            .withColumn("child_node",
                        F.concat("child_id", F.lit("~"), "parent_node", F.lit("~part")))
            .localCheckpoint(eager=True)
        )
        if kids.isEmpty():
            break
        frames.append(_triples(kids, F.col("parent_node"), V.HAS_PART, F.col("child_node"), "A14"))
        frames.append(_triples(kids, F.col("child_node"), V.TYPE, F.col("child_cls"), "A14"))
        frames.append(_triples(kids, F.col("child_node"), V.EXACT, F.col("child_id"), "A14"))
        frontier = kids.filter(F.col("child_kind") == "complex").select(
            "doc_id", F.col("child_node").alias("parent_node"),
            F.col("child_id").alias("parent_eid"),
        )

    # A19/A21: control edges
    cat = ctl.filter(F.col("ctype") == "CATALYSIS")
    cat_au = cat.filter(F.col("au_node").isNotNull())
    frames.append(_triples(cat_au, F.col("event_id"), V.ENABLED_BY, F.col("au_node"), "A21"))
    frames.append(_triples(cat_au, F.col("ctl_node"), V.HAS_PART, F.col("au_node"), "A21"))
    au_nodes = cat_au.select(
        "doc_id", "au_node", F.col("au_cls").alias("class_iri"),
        F.col("au_entity").alias("ent_ref"), F.col("au_loc").alias("loc_gocc"),
    )
    frames.append(_entity_node_triples(au_nodes, "au_node", "A21"))
    cat_plain = cat.filter(F.col("au_node").isNull())
    frames.append(_triples(cat_plain, F.col("event_id"), V.ENABLED_BY, F.col("ctl_node"), "A19"))

    reg = ctl.filter(F.col("ctype") != "CATALYSIS").withColumn(
        "reg_pred",
        F.when(F.col("ctype") == "ACTIVATION", F.lit(V.INV_POS_REG))
        .when(F.col("ctype") == "INHIBITION", F.lit(V.INV_NEG_REG))
        .otherwise(F.lit(V.INV_REG)),
    )
    frames.append(_triples(reg, F.col("ctl_node"), F.col("reg_pred"), F.col("event_id"), "A19"))

    # A22: control GO xref types the reaction
    frames.append(
        _triples(ctl.filter(F.col("ctl_go_xref").isNotNull()),
                 F.col("event_id"), V.TYPE, F.col("ctl_go_xref"), "A22")
    )

    # A14-set explosion (OPTIONAL — `has_substitutable_entity` emission is
    # disabled in the reference, BioPaxtoGO.java:1185-1215): each
    # non-small-molecule member of an entity-set io/controller node gets a
    # member individual linked via RO_0019003. Complex members (which the
    # reference reduces via getComplexActiveUnitRecursive) are skipped —
    # the active-unit reduction path covers that shape when enabled.
    if explode_entity_sets:
        set_nodes = (
            io.filter(F.col("kind") == "entity_set")
            .select("doc_id", F.col("elem_id").alias("set_id"),
                    F.col("node").alias("set_node"))
            .unionByName(
                ctl.filter(F.col("kind") == "entity_set")
                .select("doc_id", F.col("controller_id").alias("set_id"),
                        F.col("ctl_node").alias("set_node"))
            )
            .distinct()
        )
        members = (
            links.filter(F.col("link") == "member")
            .select("doc_id", F.col("src_id").alias("set_id"),
                    F.col("dst_id").alias("member_id"))
            .join(set_nodes, ["doc_id", "set_id"])
            .join(ent.select("doc_id", F.col("elem_id").alias("member_id"),
                             F.col("kind").alias("mkind"),
                             F.col("ref_id").alias("mref"),
                             F.col("class_iri").alias("mcls")),
                  ["doc_id", "member_id"])
            .filter(~F.col("mkind").isin("small_molecule", "complex"))
            .withColumn("mnode", F.concat("mref", F.lit("~"), "set_node",
                                          F.lit("~sub")))
        )
        frames.append(_triples(members, F.col("set_node"), V.HAS_SUBSTITUTABLE,
                               F.col("mnode"), "A14"))
        frames.append(_triples(members, F.col("mnode"), V.TYPE,
                               F.col("mcls"), "A14"))
        frames.append(_triples(members, F.col("mnode"), V.EXACT,
                               F.col("member_id"), "A14"))

    # ------------------------------------------------------------------
    # typing ladders (A4/A7 pathways; A10/A11/A24 + SSSOM events)
    # ------------------------------------------------------------------
    best = sssom_best(dims.sssom)

    # events: prio 1 = own ECs, 2 = sssom best match, 3 = controller EC
    ec_xref = dims.onto_xrefs.filter(F.col("xref").startswith("EC:")).select(
        F.col("xref").alias("ec_key"), F.col("class_iri").alias("ec_go")
    )
    ec_types = (
        rxn_dir.filter(F.col("ec_numbers").isNotNull() & (F.col("ec_numbers") != ""))
        .select("doc_id", "event_id", F.explode(F.split("ec_numbers", ",")).alias("ec"))
        .join(F.broadcast(ec_xref),
              F.concat(F.lit("EC:"), F.col("ec")) == F.col("ec_key"))
        .select("doc_id", "event_id", F.col("ec_go").alias("go"), F.lit(1).alias("prio"))
    )
    sssom_types = (
        event_pathway.join(F.broadcast(best),
                           event_pathway.event_id == best.subject_id)
        .select("doc_id", "event_id", F.col("sssom_go").alias("go"), F.lit(2).alias("prio"))
    )
    sgd2ec = dims.accession_map.filter(F.col("source") == "sgd2ec").select(
        F.col("acc").alias("s_acc"), F.col("target_iri").alias("s_ec")
    )
    ctl_ec_types = (
        cat.filter(F.col("accession").isNotNull())
        .join(F.broadcast(sgd2ec), F.col("accession") == F.col("s_acc"))
        .join(F.broadcast(ec_xref),
              F.concat(F.lit("EC:"), F.col("s_ec")) == F.col("ec_key"))
        .select("doc_id", "event_id", F.col("ec_go").alias("go"))
        .groupBy("doc_id", "event_id")
        .agg(F.collect_set("go").alias("gos"))
        .filter(F.size("gos") == 1)                       # A11 single-MF gate
        .select("doc_id", "event_id", F.element_at("gos", 1).alias("go"),
                F.lit(3).alias("prio"))
    )
    cand = _union([ec_types, sssom_types, ctl_ec_types])
    minp = cand.groupBy("doc_id", "event_id").agg(F.min("prio").alias("minp"))
    typed = (
        cand.join(minp, ["doc_id", "event_id"])
        .filter(F.col("prio") == F.col("minp"))
        .select("doc_id", "event_id", "go")
        .distinct()
    )
    frames.append(_triples(typed, F.col("event_id"), V.TYPE, F.col("go"), "A10"))
    typed_keys = (
        typed.select("doc_id", "event_id")
        .unionByName(
            ctl.filter(F.col("ctl_go_xref").isNotNull())
            .select("doc_id", "event_id")
        )
        .distinct()
    )
    untyped = event_pathway.select("doc_id", "event_id").distinct().join(
        typed_keys, ["doc_id", "event_id"], "left_anti"
    )
    # A24 fallback ladder tail: accumulated go_bp xref, else molecular_event
    untyped_bp = untyped.join(bpx, ["doc_id", "event_id"], "left").withColumn(
        "fallback_go", F.coalesce("bp_go", F.lit(V.MOLECULAR_EVENT))
    )
    frames.append(
        _triples(untyped_bp, F.col("event_id"), V.TYPE, F.col("fallback_go"), "A24")
    )

    # A23 typed branch: BP individual + part_of; default pathway edge and
    # the A5 emission for these events are suppressed together
    a23 = bpx.join(typed_keys, ["doc_id", "event_id"], "left_semi").withColumn(
        "bp_node", F.concat("event_id", F.lit("~bp~"), "bp_go")
    )
    frames.append(_triples(a23, F.col("event_id"), V.PART_OF, F.col("bp_node"), "A23"))
    frames.append(_triples(a23, F.col("bp_node"), V.TYPE, F.col("bp_go"), "A23"))
    frames.append(
        _triples(
            event_pathway.join(a23.select("doc_id", "event_id"),
                               ["doc_id", "event_id"], "left_anti"),
            F.col("event_id"), V.PART_OF, F.col("pathway_id"), "A5",
        )
    )

    # pathways: goXref attr > sssom > manual pathway2go map > BP root
    p2g = dims.accession_map.filter(F.col("source") == "pathway2go").select(
        F.col("acc").alias("p_acc"), F.col("target_iri").alias("manual_go")
    )
    pw_typed = (
        kept_pw.join(F.broadcast(best), kept_pw.pid == best.subject_id, "left")
        .join(F.broadcast(p2g), kept_pw.pid == F.col("p_acc"), "left")
        .withColumn("bp", F.coalesce("go_xref", "sssom_go", "manual_go", F.lit(V.BP_ROOT)))
    )
    frames.append(_triples(pw_typed, F.col("pid"), V.TYPE, F.col("bp"), "A4"))

    # ------------------------------------------------------------------
    # A6: step-order causal edges (same-pathway gate)
    # ------------------------------------------------------------------
    next_step = links.filter(F.col("link") == "next_step").select(
        "doc_id", F.col("src_id").alias("step_id"), F.col("dst_id").alias("next_id")
    )
    sp1 = step_process.select("doc_id", "step_id", F.col("event_id").alias("prev_rxn"))
    sp2 = step_process.select("doc_id", F.col("step_id").alias("next_id"),
                              F.col("event_id").alias("next_rxn"))
    ep = event_pathway.select("doc_id", "event_id", "pathway_id")
    causal = (
        next_step.join(sp1, ["doc_id", "step_id"])
        .join(sp2, ["doc_id", "next_id"])
        .join(ep.withColumnRenamed("event_id", "prev_rxn")
              .withColumnRenamed("pathway_id", "p1"), ["doc_id", "prev_rxn"])
        .join(ep.withColumnRenamed("event_id", "next_rxn")
              .withColumnRenamed("pathway_id", "p2"), ["doc_id", "next_rxn"])
        .filter(F.col("p1") == F.col("p2"))
        .filter(F.col("prev_rxn") != F.col("next_rxn"))
        .select("doc_id", "prev_rxn", "next_rxn")
        .distinct()
    )
    frames.append(_triples(causal, F.col("prev_rxn"), V.CAUSALLY_UPSTREAM, F.col("next_rxn"), "A6"))

    # ------------------------------------------------------------------
    # A16 template reactions, A15 generic interactions
    # ------------------------------------------------------------------
    prod = (
        links.filter(F.col("link") == "product")
        .select("doc_id", F.col("src_id").alias("event_id"), F.col("dst_id").alias("elem_id"))
        .join(event_pathway.select("doc_id", "event_id"), ["doc_id", "event_id"], "left_semi")
        .join(ent, ["doc_id", "elem_id"])
        .withColumn("node", F.concat("ref_id", F.lit("~"), "event_id"))
        .withColumn("ent_ref", F.col("elem_id"))
    )
    frames.append(_triples(prod, F.col("event_id"), V.HAS_OUTPUT, F.col("node"), "A16"))
    frames.append(_entity_node_triples(prod, "node", "A16"))

    part = (
        links.filter(F.col("link") == "participant")
        .select("doc_id", F.col("src_id").alias("event_id"), F.col("dst_id").alias("elem_id"))
        .join(event_pathway.select("doc_id", "event_id"), ["doc_id", "event_id"], "left_semi")
        .join(ent, ["doc_id", "elem_id"])
        .withColumn("node", F.concat("ref_id", F.lit("~"), "event_id"))
        .withColumn("ent_ref", F.col("elem_id"))
    )
    frames.append(_entity_node_triples(part, "node", "A15"))
    a = part.select("doc_id", "event_id", F.col("elem_id").alias("a_id"), F.col("node").alias("a_node"))
    b = part.select("doc_id", "event_id", F.col("elem_id").alias("b_id"), F.col("node").alias("b_node"))
    pairs = a.join(b, ["doc_id", "event_id"]).filter(F.col("a_id") < F.col("b_id"))
    frames.append(_triples(pairs, F.col("a_node"), V.INTERACTS_WITH, F.col("b_node"), "A15"))

    # ------------------------------------------------------------------
    # A25: drug reactions (io participant OR controller is a drug)
    # ------------------------------------------------------------------
    drug_reactions = (
        io.filter("is_drug")
        .select(F.col("doc_id").alias("model_id"), F.col("event_id").alias("reaction"))
        .unionByName(drug_from_ctl)
        .distinct()
    )

    triples = _union(frames).groupBy("model_id", "subj", "pred", "obj").agg(
        F.min("evidence").alias("evidence"), F.min("rule").alias("rule")
    )
    return StageA(triples=triples, drug_reactions=drug_reactions)
