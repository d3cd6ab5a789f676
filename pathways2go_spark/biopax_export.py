"""GO-CAM -> BioPAX reverse converter (reference: GOtoBioPAX.java
makeBioPAXFromGoCAM :113-293, experimental in the reference).

The reference walks the OWL object graph with a reasoner and emits a
paxtools Level-3 model. Here the same mapping runs as declarative
DataFrame joins over the final triple table and produces a flat
*statement* table — one row per BioPAX property assertion:

    (model_id, bp_kind, bp_id, prop, val)

which is the natural columnar shape of a paxtools model (and trivially
serializable to BioPAX OWL/XML downstream). Mapping, element for element:

  BP-typed node b              -> Pathway(b): dataSource=model,
                                  xref=<each direct GO type>
                                  (GOtoBioPAX.java:159-168)
  part_of(r -> b)              -> BiochemicalReaction(r):
                                  pathwayComponent=b, xref=<types>
                                  (:173-183; the reference reads has_part
                                  because whelk materializes the inverse)
  occurs_in(r)->loc, type(loc) -> cellularLocation on every PARTICIPANT
                                  of r (the reference's "model difference"
                                  comment :196-199 — BioPAX tags the
                                  molecules, GO-CAM tags the event)
  enabled_by(r -> e)           -> Control/Catalysis(e~as_control):
                                  controller=e, controlled=r,
                                  controlType=ACTIVATION; Catalysis iff r
                                  is typed under catalytic activity
                                  (:205-222)
  has_input / has_output       -> left / right (:225-239)
  binding reaction, no outputs,
  >=2 inputs                   -> inferred Complex(r~cplx): component=
                                  <each input>, plus right=complex on r
                                  (:241-250; the reference mints
                                  Math.random() ids — we use the
                                  deterministic r~cplx so resume/retry is
                                  byte-identical, same policy as the rest
                                  of this repo's node-id scheme)
  causal edge r1 -> r2         -> PathwayStep(r1~step): stepProcess=r1,
                                  nextStep=r2~step; plus
                                  Control(r1~as_function_control):
                                  controlled=r2, controller=<r1's
                                  inferred complex if any>, controlType
                                  ACTIVATION/INHIBITION for the directly-
                                  positively/negatively-regulates
                                  subproperties (:252-285)

Every join either carries model_id in the key or broadcasts a bounded
ontology dim, so the converter scales the same way stage B does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import type_rows, typed

# causally_upstream_of and its subproperties emitted by the pipeline
# (the reference selects prop axioms whose super-properties include
# causally_upstream_of, GOtoBioPAX.java:258-262)
CAUSAL_PREDS = [
    V.CAUSALLY_UPSTREAM, V.PROVIDES_INPUT,
    V.DIRECTLY_POS_REGULATES, V.DIRECTLY_NEG_REGULATES,
]

STATEMENT_COLUMNS = ["model_id", "bp_kind", "bp_id", "prop", "val"]


def _st(df: DataFrame, kind: str, bp_id, prop: str, val) -> DataFrame:
    return df.select(
        "model_id",
        F.lit(kind).alias("bp_kind"),
        bp_id.alias("bp_id"),
        F.lit(prop).alias("prop"),
        val.alias("val"),
    )


def kg_to_biopax(triples: DataFrame, onto_ancestors: DataFrame) -> DataFrame:
    """Final GO-CAM triples -> BioPAX statement table (see module doc)."""
    t = triples
    ty = type_rows(t)
    anc = F.broadcast(onto_ancestors.select(
        F.col("class_iri").alias("cls"), F.col("ancestor_iri").alias("anc")
    ))

    # Shared frames below feed many statement branches; left virtual,
    # every union branch re-expands their join trees into the final
    # plan (~170 exchanges at audit) and re-scans the fact table once
    # per branch. One eager localCheckpoint each (all are rule-match /
    # type-row bounded narrow tables) turns the plan into unions over
    # leaves — the fact table is scanned once per DISTINCT frame, not
    # once per statement kind.
    def ck(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    # -- pathways (getInstances(bp_class): typed under the BP root) ------
    bp = ck(typed(t, onto_ancestors).filter(F.col("bp"))
            .select("model_id", F.col("node").alias("b")).distinct())
    pathway_src = _st(bp, "Pathway", F.col("b"), "dataSource", F.col("model_id"))
    bp_types = ty.withColumnRenamed("node", "b").join(bp, ["model_id", "b"])
    pathway_xref = _st(bp_types, "Pathway", F.col("b"), "xref", F.col("cls"))

    # -- reactions: part_of components of a pathway ----------------------
    po = t.filter(F.col("pred") == V.PART_OF).select(
        "model_id", F.col("subj").alias("r"), F.col("obj").alias("b")
    )
    rxn = ck(po.join(bp, ["model_id", "b"]).select("model_id", "r", "b").distinct())
    rxn_component = _st(rxn, "BiochemicalReaction", F.col("r"),
                        "pathwayComponent", F.col("b"))
    r_nodes = rxn.select("model_id", "r").distinct()
    r_types = ck(ty.withColumnRenamed("node", "r").join(r_nodes, ["model_id", "r"]))
    rxn_xref = _st(r_types, "BiochemicalReaction", F.col("r"), "xref",
                   F.col("cls"))

    # closure flags on the reaction's types (getTypes(mf, false) :187-192)
    def rxn_under(root: str) -> DataFrame:
        return (
            r_types.join(anc.filter(F.col("anc") == root), "cls")
            .select("model_id", "r").distinct()
        )

    is_binding = rxn_under(V.BINDING)
    is_catalysis = rxn_under(V.CATALYTIC_ACTIVITY)

    # -- occurs_in locations -> participant cellularLocation -------------
    oc = t.filter(F.col("pred") == V.OCCURS_IN).select(
        "model_id", F.col("subj").alias("r"), F.col("obj").alias("loc")
    )
    ccs = (
        oc.join(r_nodes, ["model_id", "r"])
        .join(ty.withColumnRenamed("node", "loc").withColumnRenamed("cls", "cc"),
              ["model_id", "loc"])
        .select("model_id", "r", "cc").distinct()
    )

    def edge(pred: str, name: str) -> DataFrame:
        return t.filter(F.col("pred") == pred).select(
            "model_id", F.col("subj").alias("r"), F.col("obj").alias(name)
        ).join(r_nodes, ["model_id", "r"])

    en = ck(edge(V.ENABLED_BY, "e"))
    ins = ck(edge(V.HAS_INPUT, "i"))
    outs = ck(edge(V.HAS_OUTPUT, "o"))

    participants = (
        en.select("model_id", "r", F.col("e").alias("p"))
        .unionByName(ins.select("model_id", "r", F.col("i").alias("p")))
        .unionByName(outs.select("model_id", "r", F.col("o").alias("p")))
        .distinct()
    )
    entity_loc = _st(participants.join(ccs, ["model_id", "r"]),
                     "PhysicalEntity", F.col("p"), "cellularLocation",
                     F.col("cc"))

    # -- controls from enablers ------------------------------------------
    enc = en.join(is_catalysis.withColumn("is_cat", F.lit(1)),
                  ["model_id", "r"], "left").select(
        "model_id", "r", "e",
        F.when(F.col("is_cat") == 1, F.lit("Catalysis"))
         .otherwise(F.lit("Control")).alias("kind"),
        F.concat(
            F.col("e"),
            F.when(F.col("is_cat") == 1, F.lit("~as_catalytic_control"))
             .otherwise(F.lit("~as_control")),
        ).alias("cid"),
    )

    def _ctl(prop: str, val) -> DataFrame:
        return enc.select(
            "model_id", F.col("kind").alias("bp_kind"),
            F.col("cid").alias("bp_id"), F.lit(prop).alias("prop"),
            val.alias("val"),
        )

    control_rows = (
        _ctl("controlled", F.col("r"))
        .unionByName(_ctl("controller", F.col("e")))
        .unionByName(_ctl("controlType", F.lit("ACTIVATION")))
    )

    # -- left / right -----------------------------------------------------
    left_rows = _st(ins, "BiochemicalReaction", F.col("r"), "left", F.col("i"))
    right_rows = _st(outs, "BiochemicalReaction", F.col("r"), "right",
                     F.col("o"))

    # -- inferred binding complexes --------------------------------------
    n_in = ins.groupBy("model_id", "r").agg(F.count("*").alias("n_in"))
    cplx_rxn = (
        is_binding.join(outs.select("model_id", "r").distinct(),
                        ["model_id", "r"], "left_anti")
        .join(n_in.filter(F.col("n_in") >= 2), ["model_id", "r"])
        .select("model_id", "r")
        .withColumn("cx", F.concat(F.col("r"), F.lit("~cplx")))
        .localCheckpoint(eager=True)
    )
    cplx_members = _st(cplx_rxn.join(ins, ["model_id", "r"]),
                       "Complex", F.col("cx"), "component", F.col("i"))
    cplx_right = _st(cplx_rxn, "BiochemicalReaction", F.col("r"), "right",
                     F.col("cx"))

    # -- causal edges -> steps + function controls ------------------------
    causal = t.filter(F.col("pred").isin(CAUSAL_PREDS)).select(
        "model_id", F.col("subj").alias("r"), "pred", F.col("obj").alias("r2")
    ).join(r_nodes, ["model_id", "r"]).distinct().localCheckpoint(eager=True)
    step1 = _st(causal, "PathwayStep", F.concat("r", F.lit("~step")),
                "stepProcess", F.col("r"))
    step2 = _st(causal, "PathwayStep", F.concat("r2", F.lit("~step")),
                "stepProcess", F.col("r2"))
    next_step = _st(causal, "PathwayStep", F.concat("r", F.lit("~step")),
                    "nextStep", F.concat("r2", F.lit("~step")))
    fc = causal.withColumn(
        "fcid", F.concat("r", F.lit("~as_function_control"))
    )
    fc_controlled = _st(fc, "Control", F.col("fcid"), "controlled",
                        F.col("r2"))
    fc_type = _st(
        fc.withColumn(
            "ct",
            F.when(F.col("pred") == V.DIRECTLY_POS_REGULATES,
                   F.lit("ACTIVATION"))
             .when(F.col("pred") == V.DIRECTLY_NEG_REGULATES,
                   F.lit("INHIBITION")),
        ).filter(F.col("ct").isNotNull()),
        "Control", F.col("fcid"), "controlType", F.col("ct"),
    )
    fc_controller = _st(
        fc.join(cplx_rxn, ["model_id", "r"]),
        "Control", F.col("fcid"), "controller", F.col("cx"),
    )

    out = pathway_src
    for part in (
        pathway_xref, rxn_component, rxn_xref, entity_loc, control_rows,
        left_rows, right_rows, cplx_members, cplx_right,
        step1, step2, next_step, fc_controlled, fc_type, fc_controller,
    ):
        out = out.unionByName(part)
    return out.distinct()


# ----------------------------------------------------------------------
# BioPAX OWL/XML serialization (the reference's final artifact:
# SimpleIOHandler.convertToOWL, GOtoBioPAX.java:287-289). One XML
# element per BioPAX individual, serialized entirely JVM-side: property
# lines are codegen'd string expressions, elements are a groupBy
# collect_list + sorted concat — no Python in the loop, and the output
# is deterministic (sorted property order, sorted element order).
# ----------------------------------------------------------------------

_XML_BASE = "http://model.geneontology.org/biopax/"

OWL_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
    '         xmlns:bp="http://www.biopax.org/release/biopax-level3.owl#"\n'
    '         xmlns:xsd="http://www.w3.org/2001/XMLSchema#"\n'
    f'         xml:base="{_XML_BASE}">'
)
OWL_FOOTER = "</rdf:RDF>"

# literal-valued BioPAX properties; everything else is an rdf:resource
_LITERAL_PROPS = ["controlType", "dataSource", "xref"]


def _xml_escape(col):
    out = col
    for raw, esc in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                     ('"', "&quot;")):
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return out


def biopax_owl_elements(statements: DataFrame) -> DataFrame:
    """(model_id, bp_id, xml): one BioPAX OWL/XML element per individual.
    Write per-model files by partitioning on model_id and wrapping with
    OWL_HEADER/OWL_FOOTER (write_biopax_owl)."""
    pline = F.when(
        F.col("prop").isin(_LITERAL_PROPS),
        F.concat(
            F.lit('  <bp:'), F.col("prop"),
            F.lit(' rdf:datatype="xsd:string">'),
            _xml_escape(F.col("val")),
            F.lit("</bp:"), F.col("prop"), F.lit(">"),
        ),
    ).otherwise(
        F.concat(
            F.lit('  <bp:'), F.col("prop"), F.lit(' rdf:resource="#'),
            _xml_escape(F.col("val")), F.lit('"/>'),
        )
    )
    return (
        statements.withColumn("pline", pline)
        .groupBy("model_id", "bp_kind", "bp_id")
        .agg(F.concat_ws("\n", F.array_sort(F.collect_list("pline")))
             .alias("body"))
        .select(
            "model_id",
            "bp_id",
            F.concat(
                F.lit("<bp:"), F.col("bp_kind"), F.lit(' rdf:about="#'),
                _xml_escape(F.col("bp_id")), F.lit('">\n'),
                F.col("body"),
                F.lit("\n</bp:"), F.col("bp_kind"), F.lit(">"),
            ).alias("xml"),
        )
    )


def write_biopax_owl(statements: DataFrame, path: str) -> None:
    """One BioPAX .owl document per model_id (the reference writes one
    biopax file per converted GO-CAM): text files partitioned by model,
    elements sorted for byte-deterministic output."""
    docs = (
        biopax_owl_elements(statements)
        .groupBy("model_id")
        .agg(F.concat_ws(
            "\n",
            F.lit(OWL_HEADER),
            F.concat_ws("\n", F.array_sort(F.collect_list("xml"))),
            F.lit(OWL_FOOTER),
        ).alias("value"))
    )
    docs.write.partitionBy("model_id").mode("overwrite").text(path)
