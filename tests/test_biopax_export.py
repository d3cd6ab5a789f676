"""K-level reverse converter (GOtoBioPAX.java:113-293 parity)."""
import pyspark.sql.functions as F
import pytest

from pathways2go_spark import vocab as V
from pathways2go_spark.biopax_export import kg_to_biopax


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def anc(spark):
    return spark.createDataFrame(
        [
            (V.BP_ROOT, V.BP_ROOT),
            ("GO_111", V.BP_ROOT), ("GO_111", "GO_111"),
            (V.BINDING, V.BINDING), (V.BINDING, V.MF_ROOT),
            ("GO_222", V.CATALYTIC_ACTIVITY), ("GO_222", V.MF_ROOT),
            ("GO_CC1", V.CC_ROOT),
        ],
        "class_iri string, ancestor_iri string",
    )


def _t(spark, rows):
    return spark.createDataFrame(
        [("M", s, p, o) for s, p, o in rows],
        "model_id string, subj string, pred string, obj string",
    )


def test_pathway_reaction_control_mapping(spark, anc):
    t = _t(spark, [
        ("P", V.TYPE, "GO_111"),
        ("R", V.PART_OF, "P"),
        ("R", V.TYPE, "GO_222"),          # catalytic -> Catalysis control
        ("R", V.ENABLED_BY, "E"),
        ("R", V.HAS_INPUT, "I"),
        ("R", V.HAS_OUTPUT, "O"),
        ("R", V.OCCURS_IN, "R~oc~GO_CC1"),
        ("R~oc~GO_CC1", V.TYPE, "GO_CC1"),
    ])
    got = _rows(kg_to_biopax(t, anc))
    assert ("M", "Pathway", "P", "dataSource", "M") in got
    assert ("M", "Pathway", "P", "xref", "GO_111") in got
    assert ("M", "BiochemicalReaction", "R", "pathwayComponent", "P") in got
    assert ("M", "BiochemicalReaction", "R", "xref", "GO_222") in got
    assert ("M", "BiochemicalReaction", "R", "left", "I") in got
    assert ("M", "BiochemicalReaction", "R", "right", "O") in got
    # catalytic reaction -> Catalysis control (GOtoBioPAX.java:211-214)
    cid = "E~as_catalytic_control"
    assert ("M", "Catalysis", cid, "controlled", "R") in got
    assert ("M", "Catalysis", cid, "controller", "E") in got
    assert ("M", "Catalysis", cid, "controlType", "ACTIVATION") in got
    # BioPAX tags participants with the event's location (:196-199)
    for p in ("E", "I", "O"):
        assert ("M", "PhysicalEntity", p, "cellularLocation", "GO_CC1") in got
    # non-pathway nodes emit nothing
    assert not any(r[2] == "R~oc~GO_CC1" for r in got)


def test_binding_complex_inference_and_steps(spark, anc):
    t = _t(spark, [
        ("P", V.TYPE, "GO_111"),
        ("R1", V.PART_OF, "P"), ("R1", V.TYPE, V.BINDING),
        ("R1", V.HAS_INPUT, "X"), ("R1", V.HAS_INPUT, "Y"),
        ("R2", V.PART_OF, "P"), ("R2", V.TYPE, "GO_222"),
        ("R1", V.DIRECTLY_POS_REGULATES, "R2"),
        ("R2", V.DIRECTLY_NEG_REGULATES, "R1"),
    ])
    got = _rows(kg_to_biopax(t, anc))
    # binding + no outputs + 2 inputs -> inferred complex on the right
    # (GOtoBioPAX.java:241-250; deterministic id instead of Math.random)
    assert ("M", "Complex", "R1~cplx", "component", "X") in got
    assert ("M", "Complex", "R1~cplx", "component", "Y") in got
    assert ("M", "BiochemicalReaction", "R1", "right", "R1~cplx") in got
    # causal edge -> steps + function control (:252-285)
    assert ("M", "PathwayStep", "R1~step", "stepProcess", "R1") in got
    assert ("M", "PathwayStep", "R1~step", "nextStep", "R2~step") in got
    assert ("M", "PathwayStep", "R2~step", "stepProcess", "R2") in got
    fc = "R1~as_function_control"
    assert ("M", "Control", fc, "controlled", "R2") in got
    assert ("M", "Control", fc, "controlType", "ACTIVATION") in got
    # the binding reaction's inferred complex becomes the controller
    assert ("M", "Control", fc, "controller", "R1~cplx") in got
    # reverse edge is negative regulation
    assert ("M", "Control", "R2~as_function_control", "controlType",
            "INHIBITION") in got


def test_fixture_statements_consistent(spark, default_run):
    """Structural consistency over the full golden-fixture KG."""
    from pathways2go_spark.dims import load_dims
    from tests.conftest import FIXTURE_DIR

    dims = load_dims(spark, FIXTURE_DIR)
    st = kg_to_biopax(default_run.triples, dims.onto_ancestors)
    st.cache()
    by = lambda k, p: st.filter(
        (F.col("bp_kind") == k) & (F.col("prop") == p))
    # every reaction statement belongs to an emitted pathway
    pw = by("Pathway", "dataSource").select(
        "model_id", F.col("bp_id").alias("b"))
    comp = by("BiochemicalReaction", "pathwayComponent").select(
        "model_id", F.col("val").alias("b"))
    assert comp.join(pw, ["model_id", "b"], "left_anti").count() == 0
    # every nextStep target has its own stepProcess statement
    nxt = by("PathwayStep", "nextStep").select(
        "model_id", F.col("val").alias("bp_id"))
    sp = by("PathwayStep", "stepProcess").select("model_id", "bp_id")
    assert nxt.join(sp, ["model_id", "bp_id"], "left_anti").count() == 0
    # controls always have exactly one controlled and one controller
    ctl = st.filter(F.col("bp_kind").isin("Control", "Catalysis"))
    bad = (
        ctl.groupBy("model_id", "bp_id")
        .agg(
            F.sum((F.col("prop") == "controlled").cast("int")).alias("nc"),
            F.sum((F.col("prop") == "controller").cast("int")).alias("nr"),
        )
        # function controls may have no controller (no inferred complex)
        .filter((F.col("nc") != 1) | (F.col("nr") > 1))
    )
    assert bad.count() == 0
    assert st.count() > 0
    st.unpersist()


def test_owl_serialization_well_formed(spark, anc, tmp_path):
    """OWL/XML output parses and reproduces the statement structure
    (SimpleIOHandler.convertToOWL parity, GOtoBioPAX.java:287-289)."""
    import os
    import xml.etree.ElementTree as ET

    from pathways2go_spark.biopax_export import (
        OWL_FOOTER, OWL_HEADER, biopax_owl_elements, write_biopax_owl,
    )

    t = _t(spark, [
        ("P", V.TYPE, "GO_111"),
        ("R", V.PART_OF, "P"),
        ("R", V.TYPE, "GO_222"),
        ("R", V.ENABLED_BY, "E<&>"),   # escaping exercised
        ("R", V.HAS_INPUT, "I"),
    ])
    st = kg_to_biopax(t, anc)
    elems = {r.bp_id: r.xml for r in biopax_owl_elements(st).collect()}
    doc = "\n".join([OWL_HEADER] + sorted(elems.values()) + [OWL_FOOTER])
    root = ET.fromstring(doc)
    BP = "{http://www.biopax.org/release/biopax-level3.owl#}"
    RDF = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
    kinds = sorted(e.tag.removeprefix(BP) for e in root)
    assert kinds == ["BiochemicalReaction", "Catalysis", "Pathway"]
    rxn = next(e for e in root if e.tag == f"{BP}BiochemicalReaction")
    props = {(c.tag.removeprefix(BP), c.get(f"{RDF}resource") or c.text)
             for c in rxn}
    assert ("left", "#I") in props
    assert ("pathwayComponent", "#P") in props
    assert ("xref", "GO_222") in props
    cat = next(e for e in root if e.tag == f"{BP}Catalysis")
    assert cat.get(f"{RDF}about") == "#E<&>~as_catalytic_control"
    assert (f"{BP}controller", "#E<&>") in {
        (c.tag, c.get(f"{RDF}resource")) for c in cat}

    # per-model .owl files on disk, each one a parseable document
    write_biopax_owl(st, str(tmp_path / "owl"))
    parts = [d for d in os.listdir(tmp_path / "owl")
             if d.startswith("model_id=")]
    assert parts == ["model_id=M"]
    txt = "\n".join(
        open(os.path.join(tmp_path / "owl", parts[0], f)).read()
        for f in os.listdir(os.path.join(tmp_path / "owl", parts[0]))
        if f.endswith(".txt") or f.startswith("part-"))
    ET.fromstring(txt)
