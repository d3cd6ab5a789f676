"""Deterministic synthetic corpus generator (FIXTURES.md topologies T1-T12).

Produces, with NO randomness (pure function of the replica index):
  documents          (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  dims               onto_terms / onto_ancestors / onto_xrefs / complex_parts /
                     sssom / accession_map / drug_ids
  expected_triples   (model_id, subj, pred, obj) — the golden final triple set,
                     hand-derived per topology from the reference's rule
                     semantics (SURVEY.md §2.3-2.4); mirrors the reference's
                     golden-fixture test strategy (BioPaxtoGOTest.java:71-196)
  expected_audit     (rule, model_id, reaction, detail) — rule-audit side output
                     (DELETING_NON_SMALL_MOL_REGULATOR, GoCAM.java:1737)

Span text payload is `k=v;k=v`. Media spans are interleaved every ~5 record
spans (media_ref non-empty) to exercise the interleaved text+media contract.

Node-id scheme documented in vocab.py. ref_id semantics (A8,
BioPaxtoGO.java:345-440): small molecule -> ChEBI id if present else span id;
protein -> UniProt acc, else GPI accession target, else span id;
complex/set -> span id. exactMatch always points at the span id (A12,
BioPaxtoGO.java:1141).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from . import vocab as V

LOCS = {
    "cytosol": "GO_0005829",
    "nucleoplasm": "GO_0005654",
    "plasma_membrane": "GO_0005886",
    "extracellular": "GO_0005615",
}

SPAN_STRUCT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_STRUCT))]
)


class Fixture:
    """Accumulator for documents, dims, golden triples and audit rows."""

    def __init__(self) -> None:
        self.docs: list[dict] = []
        self.onto_terms: list[dict] = []
        self.onto_ancestors: set[tuple[str, str]] = set()
        self.onto_xrefs: set[tuple[str, str]] = set()
        self.complex_parts: set[tuple[str, str]] = set()
        self.sssom: list[dict] = []
        self.accession_map: set[tuple[str, str, str]] = set()
        self.drug_ids: set[tuple[str, str]] = set()
        self.expected: set[tuple[str, str, str, str]] = set()
        self.audit: list[dict] = []
        self._seed_static()

    # ---------------- static dims -----------------
    def _seed_static(self) -> None:
        for name, go in LOCS.items():
            self.onto_xrefs.add((f"LOC:{name}", go))
            self.anc(go, V.CC_ROOT)
        for root in [
            V.MF_ROOT, V.BP_ROOT, V.CC_ROOT, V.COMPLEX_GO, V.BINDING,
            V.PROTEIN_ROOT, V.CHEMICAL_ROOT, V.NUCLEIC_ACID,
            V.INFO_BIOMACRO, V.DNA_ROOT, V.RNA_ROOT,
        ]:
            self.anc(root, root)
        self.anc(V.BINDING, V.MF_ROOT)
        self.anc(V.WATER, V.CHEMICAL_ROOT)
        self.anc(V.HYDRON, V.CHEMICAL_ROOT)

    # ---------------- dim helpers -----------------
    def anc(self, cls: str, ancestor: str) -> None:
        self.onto_ancestors.add((cls, cls))
        self.onto_ancestors.add((cls, ancestor))

    def _mid(self, cls: str, mid: str, root: str) -> None:
        """Give classes with an odd trailing digit a synthetic mid-tier
        parent under `root`. Real ontologies are deep, and the K3/R5
        reports' inferred/deepened columns only exercise anything when
        some asserted class has a STRICT non-root ancestor — a flat
        class->root dim would make them vacuously zero."""
        if cls[-1].isdigit() and int(cls[-1]) % 2 == 1:
            self.anc(cls, mid)
            self.anc(mid, root)

    def chem(self, chebi: str) -> str:
        self.anc(chebi, V.CHEMICAL_ROOT)
        self._mid(chebi, "CHEBI_99001", V.CHEMICAL_ROOT)
        return chebi

    def prot_cls(self, uniprot: str) -> str:
        cls = f"UniProtKB_{uniprot}"
        self.anc(cls, V.PROTEIN_ROOT)
        return cls

    def sgd_cls(self, sgd: str) -> str:
        cls = f"SGD_{sgd}"
        self.anc(cls, V.PROTEIN_ROOT)
        return cls

    def mf(self, go: str) -> str:
        self.anc(go, V.MF_ROOT)
        self._mid(go, "GO_99001", V.MF_ROOT)
        return go

    def bp(self, go: str) -> str:
        self.anc(go, V.BP_ROOT)
        self._mid(go, "GO_99002", V.BP_ROOT)
        return go

    # ---------------- golden helpers -----------------
    def t(self, m: str, s: str, p: str, o: str) -> None:
        self.expected.add((m, s, p, o))

    def node(self, m: str, node_id: str, cls: str, ref: str | None = None) -> str:
        self.t(m, node_id, V.TYPE, cls)
        if ref is not None:
            self.t(m, node_id, V.EXACT, ref)
        return node_id

    def occurs(self, m: str, rxn: str, go_cc: str) -> None:
        loc = f"{rxn}~oc~{go_cc}"
        self.t(m, rxn, V.OCCURS_IN, loc)
        self.t(m, loc, V.TYPE, go_cc)


class Doc:
    """One document = one pathway model. Interleaves media spans every 5
    record spans (the interleaved text+media contract)."""

    MEDIA_EVERY = 5

    def __init__(self, fx: Fixture, doc_id: str) -> None:
        self.fx = fx
        self.doc_id = doc_id
        self.spans: list[dict] = []
        self._off = 0
        self._since_media = 0
        fx.docs.append({"doc_id": doc_id, "spans": self.spans})

    def _push(self, kind: str, text: str, media_ref: str = "") -> None:
        self.spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": self._off}
        )
        self._off += len(text) + 1

    def span(self, kind: str, **attrs) -> None:
        text = ";".join(f"{k}={v}" for k, v in attrs.items() if v is not None)
        self._push(kind, text)
        self._since_media += 1
        if self._since_media >= self.MEDIA_EVERY:
            self._since_media = 0
            n = sum(1 for s in self.spans if s["kind"] == "media") + 1
            self._push(
                "media",
                f"figure {n} for {self.doc_id}",
                media_ref=f"img://{self.doc_id}/fig{n}",
            )

    def comment(self, text: str) -> None:
        self._push("comment", text)


# ======================================================================
# Topology builders. Each returns nothing; mutates the fixture.
# Golden triples are hand-derived from the reference rule semantics —
# see SURVEY.md §2.3-2.4 and the file:line cites inline.
# ======================================================================


def t1_linear_chain(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T1: 4-reaction chain, shared small-molecule instance, catalysis.
    Mirrors proline_catabolism.owl; testInferProvidesInput
    (BioPaxtoGOTest.java:1036-1070) + testSharedIntermediateInputs (:1072-1108).
    """
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2, R3, R4 = (f"{pfx}-R{i}" for i in range(1, 5))
    M0, M1, M3, M4, M5, W = (f"{pfx}-{x}" for x in ["M0", "M1", "M3", "M4", "M5", "W"])
    E10, E20 = f"{pfx}-E10", f"{pfx}-E20"
    c = {x: fx.chem(f"CHEBI_9000{i}") for i, x in enumerate([M0, M1, M3, M4, M5])}
    u10, u20 = fx.prot_cls(f"U-{dpfx}-10"), fx.prot_cls(f"U-{dpfx}-20")
    go_mf = fx.mf("GO_0016616")
    fx.onto_xrefs.add(("EC:1.1.1.1", go_mf))

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="chain pathway", isDisease=0,
           components=",".join([R1, R2, R3, R4]))
    d.comment("Authored: Test Author.")
    for x in [M0, M1, M3, M4, M5]:
        d.span("small_molecule", id=x, displayName=x, chebi=c[x], location="cytosol")
    d.span("small_molecule", id=W, displayName="water", chebi=V.WATER, location="cytosol")
    # features/taxon attrs feed the entity-ontology builder only (E6/E7/E12,
    # PhysicalEntityOntologyBuilder.java:576-647, :486-500); stage A ignores them
    d.span("protein", id=E10, displayName="enzyme", uniprot=f"U-{dpfx}-10",
           location="cytosol", features="mod:MOD_00046:114:118",
           taxon="NCBITaxon_9606")
    d.span("protein", id=E20, displayName="intermediate protein", uniprot=f"U-{dpfx}-20",
           location="cytosol", features="frag:1:220")
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT",
           ecNumbers="1.1.1.1", left=M0, right=M1)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M1, right=E20)
    d.span("reaction", id=R3, displayName="r3", direction="LEFT-TO-RIGHT", left=E20, right=M3)
    d.span("reaction", id=R4, displayName="r4", direction="LEFT-TO-RIGHT",
           left=M5, right=f"{M4},{W}")
    d.span("control", id=f"{pfx}-C1", type="CATALYSIS", controllerId=E10, controlledId=R2)
    d.span("step", id=f"{pfx}-S1", reactionId=R1, nextStepIds=f"{pfx}-S2")
    d.span("step", id=f"{pfx}-S2", reactionId=R2, nextStepIds=f"{pfx}-S3")
    d.span("step", id=f"{pfx}-S3", reactionId=R3, nextStepIds=f"{pfx}-S4")
    d.span("step", id=f"{pfx}-S4", reactionId=R4, nextStepIds="")

    # ---- golden ----
    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2, R3, R4]:
        fx.t(m, R, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, go_mf)              # A10 EC typing
    fx.t(m, R2, V.TYPE, V.MF_ROOT)          # B1: molecular_event + enabler -> MF
    fx.t(m, R3, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R4, V.TYPE, V.MOLECULAR_EVENT)
    # io nodes (A18 keying: small mol w/ chebi+loc -> {ref}~{loc}; water -> per rxn)
    n_m0 = fx.node(m, f"{c[M0]}~cytosol", c[M0], M0)
    n_m1 = fx.node(m, f"{c[M1]}~cytosol", c[M1], M1)
    n_e20r2 = fx.node(m, f"U-{dpfx}-20~{R2}", u20, E20)
    n_e20r3 = fx.node(m, f"U-{dpfx}-20~{R3}", u20, E20)
    n_m3 = fx.node(m, f"{c[M3]}~cytosol", c[M3], M3)
    n_m4 = fx.node(m, f"{c[M4]}~cytosol", c[M4], M4)
    n_m5 = fx.node(m, f"{c[M5]}~cytosol", c[M5], M5)
    n_w = fx.node(m, f"{V.WATER}~{R4}", V.WATER, W)
    n_ctl = fx.node(m, f"U-{dpfx}-10~{R2}~ctl", u10, E10)
    fx.t(m, R1, V.HAS_INPUT, n_m0)
    fx.t(m, R1, V.HAS_OUTPUT, n_m1)
    fx.t(m, R2, V.HAS_INPUT, n_m1)          # shared instance with R1 output
    fx.t(m, R2, V.HAS_OUTPUT, n_e20r2)
    fx.t(m, R2, V.ENABLED_BY, n_ctl)
    fx.t(m, R3, V.HAS_INPUT, n_e20r3)
    fx.t(m, R3, V.HAS_OUTPUT, n_m3)
    fx.t(m, R4, V.HAS_INPUT, n_m5)
    fx.t(m, R4, V.HAS_OUTPUT, n_m4)
    fx.t(m, R4, V.HAS_OUTPUT, n_w)
    # B5: R1->R2 same instance -> delete upstream only; R2->R3 distinct
    # instances same exactMatch -> provides_direct_input_for; R3->R4 no match
    fx.t(m, R2, V.PROVIDES_INPUT, R3)
    fx.t(m, R3, V.CAUSALLY_UPSTREAM, R4)
    # B2 occurs_in: everything in cytosol (R2 via enabler)
    for R in [R1, R2, R3, R4]:
        fx.occurs(m, R, "GO_0005829")


def t2_enabler_location(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T2: occurs_in from enabler location (testOccursInFromEnablerLocation
    BioPaxtoGOTest.java:748-782) vs mixed entity locations (:703-737)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2 = f"{pfx}-R1", f"{pfx}-R2"
    E1, E2, E3, E4, E5 = (f"{pfx}-E{i}" for i in range(1, 6))
    u = {E: fx.prot_cls(f"U-{dpfx}-{i}") for i, E in enumerate([E1, E2, E3, E4, E5], 1)}

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="loc pathway", isDisease=0, components=f"{R1},{R2}")
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1", location="cytosol")
    d.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-2", location="plasma_membrane")
    d.span("protein", id=E3, displayName=E3, uniprot=f"U-{dpfx}-3", location="nucleoplasm")
    d.span("protein", id=E4, displayName=E4, uniprot=f"U-{dpfx}-4", location="cytosol")
    d.span("protein", id=E5, displayName=E5, uniprot=f"U-{dpfx}-5", location="plasma_membrane")
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=E1, right=E2)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=E4, right=E5)
    d.span("control", id=f"{pfx}-C1", type="CATALYSIS", controllerId=E3, controlledId=R1)

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2]:
        fx.t(m, R, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MF_ROOT)          # B1
    fx.t(m, R2, V.TYPE, V.MOLECULAR_EVENT)
    n1 = fx.node(m, f"U-{dpfx}-1~{R1}", u[E1], E1)
    n2 = fx.node(m, f"U-{dpfx}-2~{R1}", u[E2], E2)
    n3 = fx.node(m, f"U-{dpfx}-3~{R1}~ctl", u[E3], E3)
    n4 = fx.node(m, f"U-{dpfx}-4~{R2}", u[E4], E4)
    n5 = fx.node(m, f"U-{dpfx}-5~{R2}", u[E5], E5)
    fx.t(m, R1, V.HAS_INPUT, n1)
    fx.t(m, R1, V.HAS_OUTPUT, n2)
    fx.t(m, R1, V.ENABLED_BY, n3)
    fx.t(m, R2, V.HAS_INPUT, n4)
    fx.t(m, R2, V.HAS_OUTPUT, n5)
    # B2: enabler single location wins for R1; R2 mixed -> nothing
    fx.occurs(m, R1, "GO_0005654")


def t3_entity_regulator(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T3: B3 regulation rule 1 — upstream reaction outputs complex Z, Z
    ACTIVATION-controls downstream (testInferRegulatesViaOutputRegulates
    BioPaxtoGOTest.java:790-825; GoCAM.java:1250-1296)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2 = f"{pfx}-R1", f"{pfx}-R2"
    E1, E2, C1 = f"{pfx}-E1", f"{pfx}-E2", f"{pfx}-C1"
    Min, M2, M3 = f"{pfx}-Min", f"{pfx}-M2", f"{pfx}-M3"
    u1, u2 = fx.prot_cls(f"U-{dpfx}-1"), fx.prot_cls(f"U-{dpfx}-2")
    cmin, cm2, cm3 = fx.chem("CHEBI_90031"), fx.chem("CHEBI_90032"), fx.chem("CHEBI_90033")
    ccls = f"REACTO_{C1}"
    fx.anc(ccls, V.COMPLEX_GO)

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="reg pathway", isDisease=0, components=f"{R1},{R2}")
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1")
    d.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-2")
    d.span("complex", id=C1, displayName="Z complex", components=f"{E1}:1,{E2}:1")
    d.span("small_molecule", id=Min, displayName=Min, chebi=cmin)
    d.span("small_molecule", id=M2, displayName=M2, chebi=cm2)
    d.span("small_molecule", id=M3, displayName=M3, chebi=cm3)
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=Min, right=C1)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M2, right=M3)
    d.span("control", id=f"{pfx}-CT", type="ACTIVATION", controllerId=C1, controlledId=R2)
    d.span("step", id=f"{pfx}-S1", reactionId=R1, nextStepIds=f"{pfx}-S2")
    d.span("step", id=f"{pfx}-S2", reactionId=R2, nextStepIds="")

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2]:
        fx.t(m, R, V.PART_OF, P)
        fx.t(m, R, V.TYPE, V.MOLECULAR_EVENT)
    n_min = fx.node(m, f"{cmin}~{R1}", cmin, Min)
    n_c1out = fx.node(m, f"{C1}~{R1}", ccls, C1)
    n_m2 = fx.node(m, f"{cm2}~{R2}", cm2, M2)
    n_m3 = fx.node(m, f"{cm3}~{R2}", cm3, M3)
    fx.t(m, R1, V.HAS_INPUT, n_min)
    fx.t(m, R1, V.HAS_OUTPUT, n_c1out)
    fx.t(m, R2, V.HAS_INPUT, n_m2)
    fx.t(m, R2, V.HAS_OUTPUT, n_m3)
    # controller complex node (A14: typed complex + exploded has_part)
    z = f"{C1}~{R2}~ctl"
    fx.node(m, z, ccls, C1)
    fx.t(m, z, V.TYPE, V.COMPLEX_GO)
    p1 = fx.node(m, f"{E1}~{z}~part", u1, E1)
    p2 = fx.node(m, f"{E2}~{z}~part", u2, E2)
    fx.t(m, z, V.HAS_PART, p1)
    fx.t(m, z, V.HAS_PART, p2)
    # B3 synthesis (binding node), reg edge + upstream edge deleted
    b = f"{R1}~bind~{z}"
    fx.t(m, b, V.TYPE, V.BINDING)
    fx.t(m, b, V.HAS_INPUT, z)
    fx.t(m, b, V.PART_OF, P)
    fx.t(m, R1, V.PROVIDES_INPUT, b)
    fx.t(m, b, V.DIRECTLY_POS_REGULATES, R2)


def t4_output_enables(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T4: B4 regulation rule 3, case 1 (direct type match) and case 2
    (complex-part tbox match) — testInferRegulatesViaOutputEnables
    (BioPaxtoGOTest.java:985-1021; GoCAM.java:1343-1508)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2, R3, R4 = (f"{pfx}-R{i}" for i in range(1, 5))
    E1, E2, C2 = f"{pfx}-E1", f"{pfx}-E2", f"{pfx}-C2"
    Ms = {x: fx.chem(f"CHEBI_9004{i}") for i, x in enumerate(
        [f"{pfx}-M{j}" for j in range(1, 7)], 1)}
    u1, u2 = fx.prot_cls(f"U-{dpfx}-1"), fx.prot_cls(f"U-{dpfx}-2")
    c2cls = f"REACTO_{C2}"
    fx.anc(c2cls, V.COMPLEX_GO)
    fx.complex_parts.add((c2cls, u2))
    M1, M2, M3, M4, M5, M6 = (f"{pfx}-M{j}" for j in range(1, 7))

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="enables pathway", isDisease=0,
           components=",".join([R1, R2, R3, R4]))
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1")
    d.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-2")
    d.span("complex", id=C2, displayName="cplx", components=f"{E2}:1")
    for x in [M1, M2, M3, M4, M5, M6]:
        d.span("small_molecule", id=x, displayName=x, chebi=Ms[x])
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=M1, right=E1)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M2, right=M3)
    d.span("reaction", id=R3, displayName="r3", direction="LEFT-TO-RIGHT", left=M4, right=C2)
    d.span("reaction", id=R4, displayName="r4", direction="LEFT-TO-RIGHT", left=M5, right=M6)
    d.span("control", id=f"{pfx}-CA", type="CATALYSIS", controllerId=E1, controlledId=R2)
    d.span("control", id=f"{pfx}-CB", type="CATALYSIS", controllerId=E2, controlledId=R4)
    d.span("step", id=f"{pfx}-S1", reactionId=R1, nextStepIds=f"{pfx}-S2")
    d.span("step", id=f"{pfx}-S2", reactionId=R2, nextStepIds="")
    d.span("step", id=f"{pfx}-S3", reactionId=R3, nextStepIds=f"{pfx}-S4")
    d.span("step", id=f"{pfx}-S4", reactionId=R4, nextStepIds="")

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2, R3, R4]:
        fx.t(m, R, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R2, V.TYPE, V.MF_ROOT)
    fx.t(m, R3, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R4, V.TYPE, V.MF_ROOT)
    n = {}
    for x, rxn in [(M1, R1), (M2, R2), (M3, R2), (M4, R3), (M5, R4), (M6, R4)]:
        n[x] = fx.node(m, f"{Ms[x]}~{rxn}", Ms[x], x)
    n_e1out = fx.node(m, f"U-{dpfx}-1~{R1}", u1, E1)
    n_c2out = fx.node(m, f"{C2}~{R3}", c2cls, C2)
    n_e1ctl = fx.node(m, f"U-{dpfx}-1~{R2}~ctl", u1, E1)
    n_e2ctl = fx.node(m, f"U-{dpfx}-2~{R4}~ctl", u2, E2)
    fx.t(m, R1, V.HAS_INPUT, n[M1]); fx.t(m, R1, V.HAS_OUTPUT, n_e1out)
    fx.t(m, R2, V.HAS_INPUT, n[M2]); fx.t(m, R2, V.HAS_OUTPUT, n[M3])
    fx.t(m, R2, V.ENABLED_BY, n_e1ctl)
    fx.t(m, R3, V.HAS_INPUT, n[M4]); fx.t(m, R3, V.HAS_OUTPUT, n_c2out)
    fx.t(m, R4, V.HAS_INPUT, n[M5]); fx.t(m, R4, V.HAS_OUTPUT, n[M6])
    fx.t(m, R4, V.ENABLED_BY, n_e2ctl)
    # B4: both causal pairs matched -> directly_positively_regulates
    fx.t(m, R1, V.DIRECTLY_POS_REGULATES, R2)
    fx.t(m, R3, V.DIRECTLY_POS_REGULATES, R4)


def t5_active_unit(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T5: active units (A20/A21) + complex-with-active-unit deletion (B7) +
    same-UniProt reduction — testActiveSiteInController
    (BioPaxtoGOTest.java:938-971; BioPaxtoGO.java:2027-2097)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2 = f"{pfx}-R1", f"{pfx}-R2"
    E1, E2, E3, E4 = (f"{pfx}-E{i}" for i in range(1, 5))
    CX, CY = f"{pfx}-CX", f"{pfx}-CY"
    MM, Min, Mout, M7, M8 = (f"{pfx}-{x}" for x in ["MM", "Min", "Mout", "M7", "M8"])
    ua = fx.prot_cls(f"U-{dpfx}-A")
    ub = fx.prot_cls(f"U-{dpfx}-B")
    chems = {x: fx.chem(f"CHEBI_9005{i}") for i, x in enumerate([MM, Min, Mout, M7, M8], 1)}
    for cc in [f"REACTO_{CX}", f"REACTO_{CY}"]:
        fx.anc(cc, V.COMPLEX_GO)

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="au pathway", isDisease=0, components=f"{R1},{R2}")
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-A")
    d.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-A")
    d.span("protein", id=E3, displayName=E3, uniprot=f"U-{dpfx}-B")
    d.span("protein", id=E4, displayName=E4, uniprot=f"U-{dpfx}-B")
    d.span("small_molecule", id=MM, displayName=MM, chebi=chems[MM])
    d.span("complex", id=CX, displayName="cx", components=f"{E1}:1,{E2}:1,{MM}:1")
    d.span("complex", id=CY, displayName="cy", components=f"{E3}:1,{E4}:1")
    for x in [Min, Mout, M7, M8]:
        d.span("small_molecule", id=x, displayName=x, chebi=chems[x])
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=Min, right=Mout)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M7, right=M8)
    d.span("control", id=f"{pfx}-CA", type="CATALYSIS", controllerId=CX,
           controlledId=R1, activeUnitRef=E1)
    d.comment(f"activeUnit: #{E1}")
    d.span("control", id=f"{pfx}-CB", type="CATALYSIS", controllerId=CY,
           controlledId=R2, activeUnitRef=CY)

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2]:
        fx.t(m, R, V.PART_OF, P)
        fx.t(m, R, V.TYPE, V.MF_ROOT)       # B1 via active-unit enabled_by
    for x, rxn, pred in [(Min, R1, V.HAS_INPUT), (Mout, R1, V.HAS_OUTPUT),
                         (M7, R2, V.HAS_INPUT), (M8, R2, V.HAS_OUTPUT)]:
        fx.t(m, rxn, pred, fx.node(m, f"{chems[x]}~{rxn}", chems[x], x))
    # active units survive; complexes + exploded parts deleted (B7 then B9)
    au1 = fx.node(m, f"U-{dpfx}-A~{R1}~au", ua, E1)
    fx.t(m, R1, V.ENABLED_BY, au1)
    # same-UniProt reduction: CY all-protein single uniprot group -> min id (E3)
    au2 = fx.node(m, f"U-{dpfx}-B~{R2}~au", ub, E3)
    fx.t(m, R2, V.ENABLED_BY, au2)


def t6_small_mol_regulators(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T6: B6 small-molecule regulators, 2 activators + 2 inhibitors + 1
    protein regulator deleted+audited (testInferSmallMoleculeRegulators
    BioPaxtoGOTest.java:895-926; GoCAM.java:1667-1747)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1 = f"{pfx}-R1"
    M0, M1, M2, M3, M4, M9 = (f"{pfx}-M{i}" for i in [0, 1, 2, 3, 4, 9])
    E5 = f"{pfx}-E5"
    chems = {x: fx.chem(f"CHEBI_9006{i}") for i, x in enumerate([M0, M1, M2, M3, M4, M9])}
    u5 = fx.prot_cls(f"U-{dpfx}-5")
    # chebiRole feeds E9 (has_role gated on the CHEBI role closure,
    # PhysicalEntityOntologyBuilder.java:788-840): M1's role is registered
    # in the closure, M3's is not (must be dropped by the gate)
    fx.anc("CHEBI_23357", V.ROLE_ROOT)
    roles = {M1: "CHEBI_23357", M3: "CHEBI_99999"}

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="smreg pathway", isDisease=0, components=R1)
    for x in [M0, M1, M2, M3, M4, M9]:
        d.span("small_molecule", id=x, displayName=x, chebi=chems[x],
               chebiRole=roles.get(x))
    d.span("protein", id=E5, displayName=E5, uniprot=f"U-{dpfx}-5")
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=M0, right=M9)
    d.span("control", id=f"{pfx}-CA1", type="ACTIVATION", controllerId=M1, controlledId=R1)
    d.span("control", id=f"{pfx}-CA2", type="ACTIVATION", controllerId=M2, controlledId=R1)
    d.span("control", id=f"{pfx}-CI1", type="INHIBITION", controllerId=M3, controlledId=R1)
    d.span("control", id=f"{pfx}-CI2", type="INHIBITION", controllerId=M4, controlledId=R1)
    d.span("control", id=f"{pfx}-CP", type="ACTIVATION", controllerId=E5, controlledId=R1)

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    fx.t(m, R1, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R1, V.HAS_INPUT, fx.node(m, f"{chems[M0]}~{R1}", chems[M0], M0))
    fx.t(m, R1, V.HAS_OUTPUT, fx.node(m, f"{chems[M9]}~{R1}", chems[M9], M9))
    for x, pred in [(M1, V.SM_ACTIVATOR), (M2, V.SM_ACTIVATOR),
                    (M3, V.SM_INHIBITOR), (M4, V.SM_INHIBITOR)]:
        reg = fx.node(m, f"{chems[x]}~{R1}~ctl", chems[x], x)
        fx.t(m, R1, pred, reg)
    # protein regulator node deleted entirely (audit row below)
    fx.audit.append({
        "rule": "DELETING_NON_SMALL_MOL_REGULATOR", "model_id": m,
        "reaction": R1, "detail": u5,
    })


def t7_disease_drug(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T7: disease-pathway drop (A1/A2) + drug-reaction removal (A25/B10) —
    testDiseaseReactionDeletion (BioPaxtoGOTest.java:303-364) /
    testDrugReactionDeletion (:365-482)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    # doc a: disease ancestry -> no triples at all
    ma = f"{pfx}a"
    PD, P1, RX = f"{pfx}a-PD", f"{pfx}a-P1", f"{pfx}a-RX"
    da = Doc(fx, ma)
    da.span("pathway", id=PD, displayName="Disease", isDisease=1, components=P1)
    da.span("pathway", id=P1, displayName="child", isDisease=0, parentId=PD, components=RX)
    ca1, ca2 = fx.chem("CHEBI_90073"), fx.chem("CHEBI_90074")
    da.span("small_molecule", id=f"{pfx}a-M1", displayName="m1", chebi=ca1)
    da.span("small_molecule", id=f"{pfx}a-M2", displayName="m2", chebi=ca2)
    da.span("reaction", id=RX, displayName="rx", direction="LEFT-TO-RIGHT",
            left=f"{pfx}a-M1", right=f"{pfx}a-M2")
    # (no golden triples for ma)

    # doc b: drug reaction removed with its neighborhood
    mb = f"{pfx}b"
    P2 = f"{pfx}b-P"
    R1, R2 = f"{pfx}b-R1", f"{pfx}b-R2"
    M1, M2, M3, M4, DG = (f"{pfx}b-{x}" for x in ["M1", "M2", "M3", "M4", "DG"])
    chems = {x: fx.chem(f"CHEBI_9007{i}") for i, x in enumerate([M1, M2, M3, M4], 5)}
    fx.prot_cls(f"U-{dpfx}-D")
    fx.drug_ids.add((DG, "IUPHAR:1234"))
    db = Doc(fx, mb)
    db.span("pathway", id=P2, displayName="drug pathway", isDisease=0, components=f"{R1},{R2}")
    for x in [M1, M2, M3, M4]:
        db.span("small_molecule", id=x, displayName=x, chebi=chems[x])
    db.span("protein", id=DG, displayName="druggy", uniprot=f"U-{dpfx}-D", drugXref="IUPHAR:1234")
    # unreferenced container: exercises E11 upward IUPHAR propagation
    # (PhysicalEntityOntologyBuilder.java:879-883) without touching stage A
    db.span("complex", id=f"{pfx}b-CD", displayName="drug complex",
            components=f"{DG}:1,{M1}:2")
    db.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=M1, right=M2)
    db.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT",
            left=f"{M3},{DG}", right=M4)
    db.span("step", id=f"{pfx}b-S1", reactionId=R1, nextStepIds=f"{pfx}b-S2")
    db.span("step", id=f"{pfx}b-S2", reactionId=R2, nextStepIds="")

    fx.t(mb, P2, V.TYPE, V.BP_ROOT)
    fx.t(mb, R1, V.PART_OF, P2)
    fx.t(mb, R1, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(mb, R1, V.HAS_INPUT, fx.node(mb, f"{chems[M1]}~{R1}", chems[M1], M1))
    fx.t(mb, R1, V.HAS_OUTPUT, fx.node(mb, f"{chems[M2]}~{R1}", chems[M2], M2))
    # R2 and its neighborhood fully removed by B10 (incl. the step edge)


def t8_yeast_right_to_left(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T8: stepDirection RIGHT-TO-LEFT swaps inputs/outputs (A17;
    testYeastStepDirection BioPaxtoGOTest.java:1363-1390)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P, R1 = f"{pfx}-P", f"{pfx}-R1"
    A, B = f"{pfx}-A", f"{pfx}-B"
    ca, cb = fx.chem("CHEBI_90081"), fx.chem("CHEBI_90082")
    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="yeast pathway", isDisease=0, components=R1)
    d.span("small_molecule", id=A, displayName=A, chebi=ca)
    d.span("small_molecule", id=B, displayName=B, chebi=cb)
    d.span("reaction", id=R1, displayName="r1", left=A, right=B)
    d.span("step", id=f"{pfx}-S1", reactionId=R1, nextStepIds="", stepDirection="RIGHT-TO-LEFT")

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    fx.t(m, R1, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R1, V.HAS_INPUT, fx.node(m, f"{cb}~{R1}", cb, B))     # swapped
    fx.t(m, R1, V.HAS_OUTPUT, fx.node(m, f"{ca}~{R1}", ca, A))


def t9_yeast_linking(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T9: SSSOM best-match typing, SGD EC->MF lookup, manual pathway->GO
    map, SGD complex components (BioPaxtoGOTest.java:1152-1361)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    # doc a
    ma = f"{pfx}a"
    P, R1, R2 = f"{ma}-P", f"{ma}-R1", f"{ma}-R2"
    E1 = f"{ma}-E1"
    go_bp = f"GO_1900001"
    go_mf1, go_mf2 = fx.mf("GO_1900002"), fx.mf("GO_1900003")
    fx.bp(go_bp)
    fx.sssom.append({"subject_id": P, "object_id": go_bp, "confidence": 0.9,
                     "mapping_tool": "synthetic"})
    fx.sssom.append({"subject_id": P, "object_id": V.BP_ROOT, "confidence": 0.4,
                     "mapping_tool": "decoy"})
    fx.sssom.append({"subject_id": R1, "object_id": go_mf1, "confidence": 0.8,
                     "mapping_tool": "synthetic"})
    sgd1 = fx.sgd_cls("S000001")
    fx.accession_map.add(("gpi", f"SGD-{dpfx}-001", sgd1))
    fx.accession_map.add(("sgd2ec", f"SGD-{dpfx}-001", "1.2.3.4"))
    fx.onto_xrefs.add(("EC:1.2.3.4", go_mf2))
    c1, c2, c3, c4 = (fx.chem(f"CHEBI_9009{i}") for i in range(1, 5))
    Y1, Y2, Y3, Y4 = (f"{ma}-Y{i}" for i in range(1, 5))

    da = Doc(fx, ma)
    da.span("pathway", id=P, displayName="yeast p", isDisease=0, components=f"{R1},{R2}")
    da.span("protein", id=E1, displayName=E1, accession=f"SGD-{dpfx}-001")
    for y, cc in zip([Y1, Y2, Y3, Y4], [c1, c2, c3, c4]):
        da.span("small_molecule", id=y, displayName=y, chebi=cc)
    da.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=Y1, right=Y2)
    da.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=Y3, right=Y4)
    da.span("control", id=f"{ma}-CT", type="CATALYSIS", controllerId=E1, controlledId=R2)

    fx.t(ma, P, V.TYPE, go_bp)                  # sssom best match >0.5
    fx.t(ma, R1, V.PART_OF, P)
    fx.t(ma, R1, V.TYPE, go_mf1)                # sssom reaction MF
    fx.t(ma, R2, V.PART_OF, P)
    fx.t(ma, R2, V.TYPE, go_mf2)                # A11 controller EC -> GO
    fx.t(ma, R1, V.HAS_INPUT, fx.node(ma, f"{c1}~{R1}", c1, Y1))
    fx.t(ma, R1, V.HAS_OUTPUT, fx.node(ma, f"{c2}~{R1}", c2, Y2))
    fx.t(ma, R2, V.HAS_INPUT, fx.node(ma, f"{c3}~{R2}", c3, Y3))
    fx.t(ma, R2, V.HAS_OUTPUT, fx.node(ma, f"{c4}~{R2}", c4, Y4))
    fx.t(ma, R2, V.ENABLED_BY, fx.node(ma, f"SGD-{dpfx}-001~{R2}~ctl", sgd1, E1))

    # doc b: manual pathway->GO map + SGD complex component
    mb = f"{pfx}b"
    P2, R3 = f"{mb}-P", f"{mb}-R3"
    E2, CP = f"{mb}-E2", f"{mb}-CP"
    go_bp2 = "GO_1900004"
    fx.bp(go_bp2)
    fx.accession_map.add(("pathway2go", P2, go_bp2))
    sgd2 = fx.sgd_cls("S000002")
    fx.accession_map.add(("gpi", f"SGD-{dpfx}-002", sgd2))
    cpcls = f"REACTO_{CP}"
    fx.anc(cpcls, V.COMPLEX_GO)
    c5, c6 = fx.chem("CHEBI_90095"), fx.chem("CHEBI_90096")
    Z1, Z2 = f"{mb}-Z1", f"{mb}-Z2"

    db = Doc(fx, mb)
    db.span("pathway", id=P2, displayName="yeast p2", isDisease=0, components=R3)
    db.span("protein", id=E2, displayName=E2, accession=f"SGD-{dpfx}-002")
    db.span("complex", id=CP, displayName="cp", components=f"{E2}:1")
    db.span("small_molecule", id=Z1, displayName=Z1, chebi=c5)
    db.span("small_molecule", id=Z2, displayName=Z2, chebi=c6)
    db.span("reaction", id=R3, displayName="r3", direction="LEFT-TO-RIGHT", left=Z1, right=Z2)
    db.span("control", id=f"{mb}-CT", type="CATALYSIS", controllerId=CP, controlledId=R3)

    fx.t(mb, P2, V.TYPE, go_bp2)
    fx.t(mb, R3, V.PART_OF, P2)
    fx.t(mb, R3, V.TYPE, V.MF_ROOT)             # B1
    fx.t(mb, R3, V.HAS_INPUT, fx.node(mb, f"{c5}~{R3}", c5, Z1))
    fx.t(mb, R3, V.HAS_OUTPUT, fx.node(mb, f"{c6}~{R3}", c6, Z2))
    zc = f"{CP}~{R3}~ctl"
    fx.node(mb, zc, cpcls, CP)
    fx.t(mb, zc, V.TYPE, V.COMPLEX_GO)
    fx.t(mb, R3, V.ENABLED_BY, zc)
    pc = fx.node(mb, f"{E2}~{zc}~part", sgd2, E2)
    fx.t(mb, zc, V.HAS_PART, pc)


def t10_sets_and_chebi(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T10: entity-set controller (root election), ChEBI ids, water
    do-not-join, provides-input via same-ref distinct instances
    (BioPaxtoGOTest.java:1392-1414; GoCAM.java:121-122)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2, R3 = f"{pfx}-R1", f"{pfx}-R2", f"{pfx}-R3"
    E1, E2, S1 = f"{pfx}-E1", f"{pfx}-E2", f"{pfx}-S1"
    M1, M2, W, My = f"{pfx}-M1", f"{pfx}-M2", f"{pfx}-W", f"{pfx}-My"
    fx.prot_cls(f"U-{dpfx}-1")
    fx.prot_cls(f"U-{dpfx}-2")
    c1, c2, cy = fx.chem("CHEBI_90101"), fx.chem("CHEBI_90102"), fx.chem("CHEBI_90104")

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="sets pathway", isDisease=0,
           components=f"{R1},{R2},{R3}")
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1")
    d.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-2")
    d.span("entity_set", id=S1, displayName="set", members=f"{E1},{E2}")
    d.span("small_molecule", id=M1, displayName=M1, chebi=c1)
    d.span("small_molecule", id=M2, displayName=M2, chebi=c2)
    d.span("small_molecule", id=W, displayName="water", chebi=V.WATER)
    d.span("small_molecule", id=My, displayName=My, chebi=cy)
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=M1, right=M2)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M2, right=W)
    d.span("reaction", id=R3, displayName="r3", direction="LEFT-TO-RIGHT", left=W, right=My)
    d.span("control", id=f"{pfx}-CT", type="CATALYSIS", controllerId=S1, controlledId=R1)
    d.span("step", id=f"{pfx}-S1s", reactionId=R1, nextStepIds=f"{pfx}-S2s")
    d.span("step", id=f"{pfx}-S2s", reactionId=R2, nextStepIds=f"{pfx}-S3s")
    d.span("step", id=f"{pfx}-S3s", reactionId=R3, nextStepIds="")

    fx.t(m, P, V.TYPE, V.BP_ROOT)
    for R in [R1, R2, R3]:
        fx.t(m, R, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MF_ROOT)              # B1
    fx.t(m, R2, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R3, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R1, V.HAS_INPUT, fx.node(m, f"{c1}~{R1}", c1, M1))
    fx.t(m, R1, V.HAS_OUTPUT, fx.node(m, f"{c2}~{R1}", c2, M2))
    fx.t(m, R2, V.HAS_INPUT, fx.node(m, f"{c2}~{R2}", c2, M2))
    fx.t(m, R2, V.HAS_OUTPUT, fx.node(m, f"{V.WATER}~{R2}", V.WATER, W))
    fx.t(m, R3, V.HAS_INPUT, fx.node(m, f"{V.WATER}~{R3}", V.WATER, W))
    fx.t(m, R3, V.HAS_OUTPUT, fx.node(m, f"{cy}~{R3}", cy, My))
    # set controller: root election -> protein root (all-protein members)
    fx.t(m, R1, V.ENABLED_BY, fx.node(m, f"{S1}~{R1}~ctl", V.PROTEIN_ROOT, S1))
    # B5: R1->R2 via M2 (distinct instances, joinable) -> provides input;
    #     R2->R3 via water -> do-not-join: upstream deleted, nothing added
    fx.t(m, R1, V.PROVIDES_INPUT, R2)


def t11_untyped_fallbacks(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T11: molecular_event fallback + B1 retype; BP root fallback for
    pathway whose only sssom match is below confidence 0.5
    (GoCAM.java:1001-1025; BioPaxtoGO.java:990-993)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    m = f"{pfx}"
    P = f"{pfx}-P"
    R1, R2 = f"{pfx}-R1", f"{pfx}-R2"
    E1 = f"{pfx}-E1"
    M1, M2, M3, M4 = (f"{pfx}-M{i}" for i in range(1, 5))
    u1 = fx.prot_cls(f"U-{dpfx}-1")
    chems = {x: fx.chem(f"CHEBI_9011{i}") for i, x in enumerate([M1, M2, M3, M4], 1)}
    fx.sssom.append({"subject_id": P, "object_id": "GO_1900099", "confidence": 0.3,
                     "mapping_tool": "lowconf"})

    d = Doc(fx, m)
    d.span("pathway", id=P, displayName="fallback pathway", isDisease=0,
           components=f"{R1},{R2}")
    d.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1")
    for x in [M1, M2, M3, M4]:
        d.span("small_molecule", id=x, displayName=x, chebi=chems[x])
    d.span("reaction", id=R1, displayName="r1", direction="LEFT-TO-RIGHT", left=M1, right=M2)
    d.span("reaction", id=R2, displayName="r2", direction="LEFT-TO-RIGHT", left=M3, right=M4)
    d.span("control", id=f"{pfx}-CT", type="CATALYSIS", controllerId=E1, controlledId=R1)

    fx.t(m, P, V.TYPE, V.BP_ROOT)               # 0.3 < 0.5 -> root fallback
    fx.t(m, R1, V.PART_OF, P)
    fx.t(m, R1, V.TYPE, V.MF_ROOT)
    fx.t(m, R2, V.PART_OF, P)
    fx.t(m, R2, V.TYPE, V.MOLECULAR_EVENT)
    fx.t(m, R1, V.HAS_INPUT, fx.node(m, f"{chems[M1]}~{R1}", chems[M1], M1))
    fx.t(m, R1, V.HAS_OUTPUT, fx.node(m, f"{chems[M2]}~{R1}", chems[M2], M2))
    fx.t(m, R2, V.HAS_INPUT, fx.node(m, f"{chems[M3]}~{R2}", chems[M3], M3))
    fx.t(m, R2, V.HAS_OUTPUT, fx.node(m, f"{chems[M4]}~{R2}", chems[M4], M4))
    fx.t(m, R1, V.ENABLED_BY, fx.node(m, f"U-{dpfx}-1~{R1}~ctl", u1, E1))


def t12_gate_and_misc(fx: Fixture, pfx: str, dpfx: str | None = None) -> None:
    """T12: empty-model gate (B11, BioPaxtoGO.java:588-599) + template
    reaction (A16) + generic interaction (A15)."""
    dpfx = dpfx or pfx  # guard against literal "U-None-*" accessions
    # doc a: pathway with no activities -> model not written
    ma = f"{pfx}a"
    da = Doc(fx, ma)
    da.span("pathway", id=f"{ma}-P", displayName="empty", isDisease=0, components="")
    # (no golden triples for ma)

    # doc b: template reaction + generic interaction
    mb = f"{pfx}b"
    P2, TR, I1, R9 = f"{mb}-P", f"{mb}-TR", f"{mb}-I1", f"{mb}-R9"
    E1, E2, E3 = f"{mb}-E1", f"{mb}-E2", f"{mb}-E3"
    u1, u2, u3 = (fx.prot_cls(f"U-{dpfx}-{i}") for i in range(1, 4))
    # A23 dims: a real MF for R9's EC plus two BP classes for the xrefs
    go_mf2 = fx.mf("GO_90007")
    fx.onto_xrefs.add(("EC:4.4.4.4", go_mf2))
    fx.bp("GO_90008")
    fx.bp("GO_90009")
    db = Doc(fx, mb)
    db.span("pathway", id=P2, displayName="tmpl pathway", isDisease=0,
            components=f"{TR},{I1},{R9}")
    db.span("protein", id=E1, displayName=E1, uniprot=f"U-{dpfx}-1")
    db.span("protein", id=E2, displayName=E2, uniprot=f"U-{dpfx}-2")
    db.span("protein", id=E3, displayName=E3, uniprot=f"U-{dpfx}-3")
    # A23 untyped branch: TR's BP xref becomes its A24 fallback type
    db.span("template_reaction", id=TR, products=E1, bpXref="GO_90009")
    db.span("interaction", id=I1, participants=f"{E2},{E3}")
    # A23 typed branch: EC-typed reaction with a BP RelationshipXref ->
    # dedicated BP individual, default part_of-pathway edge dropped
    # (BioPaxtoGO.java:1786-1820, issue #66)
    db.span("reaction", id=R9, displayName="r9", direction="LEFT-TO-RIGHT",
            ecNumbers="4.4.4.4", bpXref="GO_90008", left=E2, right=E3)
    # unreferenced DNA/RNA entities: exercise E8 typing ladders
    # (PhysicalEntityOntologyBuilder.java:718-786) without touching the
    # pipeline goldens (no reaction references them)
    db.span("dna", id=f"{mb}-D1", displayName="gene", ensembl=f"ENSG-{pfx}-1")
    db.span("rna", id=f"{mb}-N1", displayName="transcript")

    fx.t(mb, P2, V.TYPE, V.BP_ROOT)
    fx.t(mb, TR, V.PART_OF, P2)
    fx.t(mb, TR, V.TYPE, "GO_90009")        # A24 via bpXref (A23 untyped)
    fx.t(mb, TR, V.HAS_OUTPUT, fx.node(mb, f"U-{dpfx}-1~{TR}", u1, E1))
    # R9: A23 typed branch
    fx.t(mb, R9, V.TYPE, go_mf2)
    bp9 = f"{R9}~bp~GO_90008"
    fx.t(mb, R9, V.PART_OF, bp9)
    fx.t(mb, bp9, V.TYPE, "GO_90008")
    fx.t(mb, R9, V.HAS_INPUT, fx.node(mb, f"U-{dpfx}-2~{R9}", u2, E2))
    fx.t(mb, R9, V.HAS_OUTPUT, fx.node(mb, f"U-{dpfx}-3~{R9}", u3, E3))
    fx.t(mb, I1, V.PART_OF, P2)
    fx.t(mb, I1, V.TYPE, V.MOLECULAR_EVENT)
    n2 = fx.node(mb, f"U-{dpfx}-2~{I1}", u2, E2)
    n3 = fx.node(mb, f"U-{dpfx}-3~{I1}", u3, E3)
    fx.t(mb, n2, V.INTERACTS_WITH, n3)          # ordered pair (min id first)


TOPOLOGIES = [
    t1_linear_chain, t2_enabler_location, t3_entity_regulator,
    t4_output_enables, t5_active_unit, t6_small_mol_regulators,
    t7_disease_drug, t8_yeast_right_to_left, t9_yeast_linking,
    t10_sets_and_chebi, t11_untyped_fallbacks, t12_gate_and_misc,
]


ACCESSION_POOL = 64


def build_fixture(replicas: int = 1) -> Fixture:
    """Build `replicas` copies of each topology (deterministic ids).

    Element/model ids are unique per replica, but ontology-class-bearing
    accessions (UniProt / SGD) draw from a BOUNDED pool of
    ACCESSION_POOL namespaces: real ontologies are fixed-size regardless
    of corpus size, so the broadcast dims must not scale with replicas
    (they'd otherwise dwarf the real dictionaries and skew benchmarks).
    Replica 0 keeps the un-pooled `T{k}x00000` namespace so golden tests
    can reference literal ids."""
    fx = Fixture()
    for i in range(replicas):
        for k, topo in enumerate(TOPOLOGIES, 1):
            pfx = f"T{k}x{i:05d}"
            dpfx = pfx if i == 0 else f"T{k}d{i % ACCESSION_POOL:03d}"
            topo(fx, pfx, dpfx)
    return fx


def write_fixture(fx: Fixture, out_dir: str) -> dict[str, str]:
    """Write fixture tables to parquet under out_dir; returns path map."""
    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}

    def w(name: str, table: pa.Table) -> None:
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, p)
        paths[name] = p

    # documents: multi-file + small row groups so a Spark scan splits the
    # corpus across tasks (one mega row group = a single-task scan — the
    # serial bottleneck that killed N->4N scaling). Small fixtures stay a
    # single file so the DuckDB oracles can read the bare path.
    DOC_CHUNK = 10_000
    if len(fx.docs) <= DOC_CHUNK:
        w("documents", pa.Table.from_pylist(fx.docs, schema=DOCUMENTS_SCHEMA))
    else:
        ddir = os.path.join(out_dir, "documents.parquet")
        os.makedirs(ddir, exist_ok=True)
        for i in range(0, len(fx.docs), DOC_CHUNK):
            part = pa.Table.from_pylist(fx.docs[i : i + DOC_CHUNK],
                                        schema=DOCUMENTS_SCHEMA)
            pq.write_table(part, os.path.join(ddir, f"part-{i // DOC_CHUNK:05d}.parquet"),
                           row_group_size=1000)
        paths["documents"] = ddir
    w("onto_ancestors", pa.Table.from_pylist(
        [{"class_iri": c, "ancestor_iri": a} for c, a in sorted(fx.onto_ancestors)],
        schema=pa.schema([("class_iri", pa.string()), ("ancestor_iri", pa.string())])))
    w("onto_xrefs", pa.Table.from_pylist(
        [{"xref": x, "class_iri": c} for x, c in sorted(fx.onto_xrefs)],
        schema=pa.schema([("xref", pa.string()), ("class_iri", pa.string())])))
    w("complex_parts", pa.Table.from_pylist(
        [{"complex_class": c, "part_class": p} for c, p in sorted(fx.complex_parts)]
        or [{"complex_class": "", "part_class": ""}][:0],
        schema=pa.schema([("complex_class", pa.string()), ("part_class", pa.string())])))
    w("sssom", pa.Table.from_pylist(
        fx.sssom,
        schema=pa.schema([("subject_id", pa.string()), ("object_id", pa.string()),
                          ("confidence", pa.float64()), ("mapping_tool", pa.string())])))
    w("accession_map", pa.Table.from_pylist(
        [{"source": s, "acc": a, "target_iri": t} for s, a, t in sorted(fx.accession_map)],
        schema=pa.schema([("source", pa.string()), ("acc", pa.string()),
                          ("target_iri", pa.string())])))
    w("drug_ids", pa.Table.from_pylist(
        [{"entity_id": e, "iuphar_id": i} for e, i in sorted(fx.drug_ids)],
        schema=pa.schema([("entity_id", pa.string()), ("iuphar_id", pa.string())])))
    w("expected_triples", pa.Table.from_pylist(
        [{"model_id": m, "subj": s, "pred": p, "obj": o}
         for m, s, p, o in sorted(fx.expected)]))
    w("expected_audit", pa.Table.from_pylist(
        fx.audit,
        schema=pa.schema([("rule", pa.string()), ("model_id", pa.string()),
                          ("reaction", pa.string()), ("detail", pa.string())])))
    return paths


def ensure_reference_gpad(out_dir: str) -> str:
    """Deterministic 'existing annotations' fixture for the K4b GPAD diff
    (ReactomeGPAD.java:177-194 compareAnnotations): an independent Python
    re-derivation of the GPAD export from the golden triple set +
    ancestor closure, deterministically perturbed —

      * ~1/5 of true rows dropped   -> export-only rows ('extra')
      * ~1/3 of gene ids get a fake GO_9999999 row -> fixture-only
        rows ('missing')

    so every diff status is exercised. Generated on demand beside an
    existing fixture (reads the parquet, no rebuild)."""
    import hashlib

    dest = os.path.join(out_dir, "reference_gpad.parquet")
    if os.path.exists(dest):
        return dest
    exp = pq.read_table(os.path.join(out_dir, "expected_triples.parquet"))
    anc = pq.read_table(os.path.join(out_dir, "onto_ancestors.parquet"))
    mf = {c for c, a in zip(anc.column("class_iri").to_pylist(),
                            anc.column("ancestor_iri").to_pylist())
          if a == V.MF_ROOT}
    bp = {c for c, a in zip(anc.column("class_iri").to_pylist(),
                            anc.column("ancestor_iri").to_pylist())
          if a == V.BP_ROOT}
    types: dict[tuple[str, str], set[str]] = {}
    enabled: list[tuple[str, str, str]] = []
    po: dict[tuple[str, str], set[str]] = {}
    for m, s, p, o in zip(exp.column("model_id").to_pylist(),
                          exp.column("subj").to_pylist(),
                          exp.column("pred").to_pylist(),
                          exp.column("obj").to_pylist()):
        if p == V.TYPE:
            types.setdefault((m, s), set()).add(o)
        elif p == V.ENABLED_BY:
            enabled.append((m, s, o))
        elif p == V.PART_OF:
            po.setdefault((m, s), set()).add(o)
    rows: set[tuple[str, str, str, str]] = set()
    for m, r, n in enabled:
        accs = [c[len("UniProtKB_"):] for c in types.get((m, n), ())
                if c.startswith("UniProtKB_")]
        for acc in accs:
            for c in types.get((m, r), ()):
                if c in mf:
                    rows.add((m, acc, "enables", c))
            for pw in po.get((m, r), ()):
                for c in types.get((m, pw), ()):
                    if c in bp:
                        rows.add((m, acc, "involved_in", c))

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    out = [(m, a, q, g) for m, a, q, g in sorted(rows)
           if h(f"{m}|{a}|{q}|{g}") % 5 != 0]
    out += [(m, a, "involved_in", "GO_9999999")
            for m, a in sorted({(m, a) for m, a, _, _ in rows})
            if h(f"{m}|{a}") % 3 == 0]
    pq.write_table(pa.Table.from_pylist(
        [{"db": "UniProtKB", "db_object_id": a, "qualifier": q,
          "go_id": g, "reference": m} for m, a, q, g in sorted(out)],
        schema=pa.schema([("db", pa.string()), ("db_object_id", pa.string()),
                          ("qualifier", pa.string()), ("go_id", pa.string()),
                          ("reference", pa.string())])), dest)
    return dest


def ensure_fixture(out_dir: str, replicas: int = 1) -> dict[str, str]:
    """Idempotent AND generator-aware: rebuild whenever this module's
    source changes, not just when the directory is missing. A stale
    cached fixture silently pins tests/oracles to an old generator — the
    marker therefore records the md5 of datagen.py itself."""
    import hashlib

    # read our own source through the import loader, not open(__file__):
    # under spark-submit --py-files the package lives inside a zip and
    # __file__ is not an openable path (zipimport-safe).
    src = __loader__.get_source(__name__)
    want = hashlib.md5(src.encode()).hexdigest()
    marker = os.path.join(out_dir, ".datagen_version")
    names = ["documents", "onto_ancestors", "onto_xrefs", "complex_parts",
             "sssom", "accession_map", "drug_ids", "expected_triples",
             "expected_audit"]
    have = None
    if os.path.exists(marker):
        with open(marker) as f:
            have = f.read().strip()
    if have == want and os.path.exists(
        os.path.join(out_dir, "expected_triples.parquet")
    ):
        return {n: os.path.join(out_dir, f"{n}.parquet") for n in names}
    paths = write_fixture(build_fixture(replicas), out_dir)
    # derived artifacts must not outlive the fixture they derive from:
    # anything in out_dir that write_fixture didn't just produce is a
    # tool-written derivative (reference_gpad from tests, sink/stream
    # scratch dirs) and can be stale
    # against the regenerated DOCUMENTS_SCHEMA or corpus — drop them all.
    import shutil

    keep = {f"{n}.parquet" for n in names} | {".datagen_version"}
    for entry in os.listdir(out_dir):
        if entry in keep:
            continue
        p = os.path.join(out_dir, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    with open(marker, "w") as f:
        f.write(want)
    return paths
