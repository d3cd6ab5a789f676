"""BioPAX RDF/XML front-end tests: byte-exact round-trip, the golden
P/R suite driven from the XML path (the test strategy of
BioPaxtoGOTest.java:71-196 — parse real OWL, convert, compare
triples), and foreign-file parsing without the fidelity hint."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pathways2go_spark import biopax_xml as BX
from pathways2go_spark.datagen import build_fixture, ensure_fixture
from pathways2go_spark.dims import load_dims
from pathways2go_spark.ingest import read_documents, span_invariant_violations
from pathways2go_spark.pipeline import precision_recall, run_pipeline
from tests.conftest import FIXTURE_DIR


@pytest.fixture(scope="module")
def fx_docs():
    return build_fixture(replicas=1).docs


def test_roundtrip_exact(fx_docs):
    """parse(write(doc)) == doc byte-for-byte for every fixture doc —
    kind, text, media_ref, offset, order (the span-sequence invariant)."""
    for doc in fx_docs:
        xml = BX.spans_to_rdfxml(doc["doc_id"], doc["spans"])
        rid, rspans = BX.rdfxml_to_spans(xml)
        assert rid == doc["doc_id"]
        assert rspans == doc["spans"], doc["doc_id"]


def test_xml_is_real_biopax_vocabulary(fx_docs):
    """The emitted XML uses the BioPAX L3 namespace and class names the
    reference's paxtools parser consumes — not a private encoding."""
    doc = next(d for d in fx_docs if d["doc_id"].startswith("T1"))
    xml = BX.spans_to_rdfxml(doc["doc_id"], doc["spans"])
    assert BX.BP in xml
    for cls in ("bp:Pathway", "bp:BiochemicalReaction", "bp:Catalysis",
                "bp:Protein", "bp:SmallMolecule", "bp:ProteinReference",
                "bp:UnificationXref", "bp:CellularLocationVocabulary",
                "bp:BiochemicalPathwayStep"):
        assert f"<{cls}" in xml, cls
    # span values never leak into the fidelity hint (semantics live in
    # BioPAX properties only; attrOrder is keys-only)
    for m in re.finditer(r'p2g:attrOrder="([^"]*)"', xml):
        assert "=" not in m.group(1)


def test_spark_roundtrip_and_invariant(spark, documents):
    """Distributed write->parse over the fixture documents table equals
    the original rows, and the parsed table passes the span invariant."""
    parsed = BX.parse_rdfxml(BX.write_rdfxml(documents))
    assert span_invariant_violations(parsed).count() == 0
    a = documents.select("doc_id", F.to_json("spans").alias("j"))
    b = parsed.select("doc_id", F.to_json("spans").alias("j"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_golden_pr_from_xml_path(spark, tmp_path_factory):
    """The full golden suite driven from OWL files on disk: write one
    .owl per fixture doc, re-ingest through the distributed binaryFile
    scan, run the pipeline, and require P/R == 1.0 against the same
    hand-derived golden triples the span path is held to."""
    paths = ensure_fixture(FIXTURE_DIR, replicas=1)
    docs = read_documents(spark, paths["documents"])
    owl_dir = str(tmp_path_factory.mktemp("owl"))
    n = BX.write_rdfxml_files(docs, owl_dir)
    assert n == docs.count()
    xml_docs = BX.read_rdfxml(spark, owl_dir)
    dims = load_dims(spark, FIXTURE_DIR)
    res = run_pipeline(spark, xml_docs, dims)
    expected = spark.read.parquet(paths["expected_triples"])
    pr = precision_recall(res.triples, expected)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_permissive_quarantines_corrupt_files(spark, tmp_path):
    """A corrupt .owl beside good files: strict mode fails the scan,
    permissive mode yields the good docs plus a NULL-spans quarantine
    row — one bad upload must not kill a 10^12-doc directory scan."""

    good = BX.spans_to_rdfxml("good1", [
        {"kind": "pathway", "text": "id=P;displayName=p;isDisease=0;components=",
         "media_ref": "", "offset": 0}])
    (tmp_path / "good1.owl").write_text(good)
    (tmp_path / "broken.owl").write_text("<rdf:RDF <<< not xml")
    with pytest.raises(Exception):
        BX.read_rdfxml(spark, str(tmp_path)).collect()
    rows = {r["doc_id"]: r for r in
            BX.read_rdfxml(spark, str(tmp_path), permissive=True).collect()}
    assert rows["broken"]["spans"] is None
    assert rows["good1"]["spans"] is not None
    assert len(rows["good1"]["spans"]) == 1


def test_repeated_component_coefficients_roundtrip():
    """A complex repeating one component id with different coefficients
    keeps per-occurrence Stoichiometry through the round-trip, also when
    bare and coefficient forms mix ('A,A:2' stays in that order)."""
    spans = [
        {"kind": "protein", "text": "id=A;displayName=a;uniprot=U-1",
         "media_ref": "", "offset": 0},
    ]
    off = len(spans[0]["text"]) + 1
    for comps in ("A:2,A:3,A", "A,A:2", "A,A:2,A,A:3"):
        cx = {"kind": "complex", "text": f"id=C;displayName=c;components={comps}",
              "media_ref": "", "offset": off}
        xml = BX.spans_to_rdfxml("stoich", spans + [cx])
        _, rt = BX.rdfxml_to_spans(xml)
        assert rt == spans + [cx]


def test_absolute_iri_about_resolves():
    """Foreign exports that use absolute-IRI rdf:about: element ids
    reduce to the fragment, so rdf:resource refs and the rdf:about
    index agree (paxtools-style files mix both forms)."""
    xml = f"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="{BX.RDF}" xmlns:bp="{BX.BP}">
 <bp:Protein rdf:about="http://reactome.org/biopax/72#e1">
  <bp:entityReference rdf:resource="#pr1"/>
 </bp:Protein>
 <bp:ProteinReference rdf:about="http://reactome.org/biopax/72#pr1">
  <bp:xref>
   <bp:UnificationXref rdf:about="http://reactome.org/biopax/72#x1">
    <bp:db>uniprot</bp:db><bp:id>P77777</bp:id>
   </bp:UnificationXref>
  </bp:xref>
 </bp:ProteinReference>
 <bp:BiochemicalReaction rdf:about="http://reactome.org/biopax/72#r1">
  <bp:left rdf:resource="http://reactome.org/biopax/72#e1"/>
 </bp:BiochemicalReaction>
</rdf:RDF>"""
    _, spans = BX.rdfxml_to_spans(xml, doc_id="abs")
    prot = next(s for s in spans if s["kind"] == "protein")
    assert "id=e1" in prot["text"] and "uniprot=P77777" in prot["text"]
    rxn = next(s for s in spans if s["kind"] == "reaction")
    assert "left=e1" in rxn["text"]


def test_interner_distinguishes_xref_sets():
    """Entity references intern on the FULL xref set: a chebi
    UnificationXref and a chebiRole RelationshipXref with the same id
    are different resources, as are uniprot-only vs uniprot+accession
    — and distinct resources never share an rdf:about id."""
    import re

    spans = []
    off = 0

    def push(kind, text):
        nonlocal off
        spans.append({"kind": kind, "text": text, "media_ref": "",
                      "offset": off})
        off += len(text) + 1

    push("small_molecule", "id=M1;displayName=m1;chebi=CHEBI_777")
    push("small_molecule", "id=M2;displayName=m2;chebiRole=CHEBI_777")
    push("protein", "id=E1;displayName=e1;uniprot=U-9")
    push("protein", "id=E2;displayName=e2;uniprot=U-9;accession=SGD-9")
    xml = BX.spans_to_rdfxml("collide", spans)
    abouts = re.findall(r'rdf:about="#([^"]+)"', xml)
    assert len(abouts) == len(set(abouts)), sorted(abouts)
    _, rt = BX.rdfxml_to_spans(xml)
    assert rt == spans


_REF_BIOPAX = "/root/reference/exchange/src/test/resources/biopax"
_REF_CYC = "/root/reference/exchange/src/test/resources/cyc"


@pytest.mark.skipif(
    not __import__("os").path.isdir(_REF_BIOPAX),
    reason="reference fixtures not present",
)
def test_every_reference_fixture_parses():
    """EVERY real export in the reference's regression set — 10
    Reactome + 7 MetaCyc/YeastCyc OWL files — parses into non-trivial,
    offset-consistent spans (the corpus the reference's own converter
    is tested on, Biopax2GOCmdLine.java's input directories)."""
    import glob
    import os

    files = sorted(glob.glob(os.path.join(_REF_BIOPAX, "*.owl"))) + sorted(
        glob.glob(os.path.join(_REF_CYC, "*.owl"))
    )
    assert len(files) >= 17
    for f in files:
        doc_id, spans = BX.rdfxml_to_spans(
            open(f, "rb").read(), doc_id=os.path.basename(f)[:-4]
        )
        assert spans, f
        off = 0
        for s in spans:
            assert s["offset"] == off, (f, s)
            off += len(s["text"]) + 1
        # Reactome exports must yield structured pathway records
        if "/biopax/" in f:
            kinds = {s["kind"] for s in spans}
            assert "pathway" in kinds and "reaction" in kinds, (f, kinds)


@pytest.mark.skipif(
    not __import__("os").path.isdir(_REF_BIOPAX),
    reason="reference fixtures not present",
)
def test_real_reactome_fixture_parses(spark):
    """The parser consumes an actual Reactome BioPAX L3 export (the
    reference's own test fixture set, parsed by paxtools in
    BioPaxtoGOTest.java): rdf:ID identities, top-level shared xref
    objects, stepProcess steps, contributor comments, entity sets
    typed as bp:Protein — and the result ingests and runs through the
    pipeline without error on the synthetic dims."""
    import os

    from pathways2go_spark import ingest as I

    path = os.path.join(_REF_BIOPAX, "proline_catabolism.owl")
    doc_id, spans = BX.rdfxml_to_spans(open(path, "rb").read(),
                                       doc_id="proline_catabolism")
    kinds = {s["kind"] for s in spans}
    assert {"pathway", "reaction", "small_molecule", "protein",
            "control", "step", "comment"} <= kinds
    rxn = [s for s in spans if s["kind"] == "reaction"]
    assert len(rxn) == 4  # the 4-reaction proline chain (T1's source)
    assert all("left=" in s["text"] and "right=" in s["text"] for s in rxn)
    ctl = [s for s in spans if s["kind"] == "control"]
    assert all("type=CATALYSIS" in s["text"] for s in ctl)
    steps = [s for s in spans if s["kind"] == "step"]
    assert all("reactionId=BiochemicalReaction" in s["text"] for s in steps)
    # contributor comments survive as standalone spans for parse_doc_meta
    assert any(s["text"].startswith("Authored:") for s in spans
               if s["kind"] == "comment")
    # chebi xrefs resolve through the shared top-level UnificationXrefs
    assert any("chebi=CHEBI_" in s["text"] for s in spans
               if s["kind"] == "small_molecule")
    # uniprot via shared ProteinReference
    assert any("uniprot=" in s["text"] for s in spans
               if s["kind"] == "protein")
    # the parsed doc passes the span invariant and ingests
    df = spark.createDataFrame([(doc_id, spans)], I.DOCUMENTS_SCHEMA)
    assert I.span_invariant_violations(df).count() == 0
    elements, links = I.ingest(df)
    assert elements.count() == len(spans)
    assert links.filter(F.col("link") == "left").count() > 0


def test_foreign_file_without_hint(spark):
    """A hand-written BioPAX file (no p2g attrs, shared references by
    rdf:resource, paxtools-style) parses into usable spans."""
    xml = f"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="{BX.RDF}" xmlns:bp="{BX.BP}">
 <bp:Pathway rdf:about="#p1">
  <bp:displayName>foreign pathway</bp:displayName>
  <bp:pathwayComponent rdf:resource="#r1"/>
 </bp:Pathway>
 <bp:Protein rdf:about="#e1">
  <bp:displayName>kinase</bp:displayName>
  <bp:entityReference>
   <bp:ProteinReference rdf:about="#pr1">
    <bp:xref>
     <bp:UnificationXref rdf:about="#x1">
      <bp:db>uniprot</bp:db><bp:id>P12345</bp:id>
     </bp:UnificationXref>
    </bp:xref>
   </bp:ProteinReference>
  </bp:entityReference>
  <bp:cellularLocation>
   <bp:CellularLocationVocabulary rdf:about="#cl1">
    <bp:term>cytosol</bp:term>
   </bp:CellularLocationVocabulary>
  </bp:cellularLocation>
 </bp:Protein>
 <bp:Protein rdf:about="#e2">
  <bp:displayName>substrate</bp:displayName>
  <bp:entityReference rdf:resource="#pr1"/>
  <bp:cellularLocation rdf:resource="#cl1"/>
 </bp:Protein>
 <bp:BiochemicalReaction rdf:about="#r1">
  <bp:conversionDirection>LEFT-TO-RIGHT</bp:conversionDirection>
  <bp:eCNumber>2.7.11.1</bp:eCNumber>
  <bp:left rdf:resource="#e1"/>
  <bp:right rdf:resource="#e2"/>
 </bp:BiochemicalReaction>
 <bp:Catalysis rdf:about="#c1">
  <bp:controlType>ACTIVATION</bp:controlType>
  <bp:controller rdf:resource="#e1"/>
  <bp:controlled rdf:resource="#r1"/>
  <bp:comment>activeUnit: #e1</bp:comment>
 </bp:Catalysis>
</rdf:RDF>"""
    doc_id, spans = BX.rdfxml_to_spans(xml, doc_id="foreign1")
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s["text"])
    assert "components=r1" in by_kind["pathway"][0]
    assert "uniprot=P12345" in by_kind["protein"][0]
    # shared (rdf:resource) reference and location resolve on e2
    assert "uniprot=P12345" in by_kind["protein"][1]
    assert "location=cytosol" in by_kind["protein"][1]
    assert "ecNumbers=2.7.11.1" in by_kind["reaction"][0]
    assert "left=e1" in by_kind["reaction"][0]
    ctl = by_kind["control"][0]
    assert "type=CATALYSIS" in ctl and "activeUnitRef=e1" in ctl
    # offsets follow the cumulative rule
    off = 0
    for s in spans:
        assert s["offset"] == off
        off += len(s["text"]) + 1



def test_foreign_mesh_xref_is_not_the_disease_marker():
    """Only the writer's mesh D004194 xref marks a disease pathway; any
    other MeSH xref (here D009369) leaves isDisease=0."""
    xml = f"""<rdf:RDF xmlns:rdf="{BX.RDF}" xmlns:bp="{BX.BP}">
 <bp:Pathway rdf:about="#p1"><bp:xref><bp:RelationshipXref rdf:about="#x1">
  <bp:db>MeSH</bp:db><bp:id>D009369</bp:id>
 </bp:RelationshipXref></bp:xref></bp:Pathway>
</rdf:RDF>"""
    _, spans = BX.rdfxml_to_spans(xml, doc_id="mesh")
    assert "isDisease=0" in spans[0]["text"]
