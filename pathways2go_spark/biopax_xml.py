"""BioPAX Level-3 RDF/XML front-end: parse real BioPAX OWL files into
the span-encoded documents table (ingest.DOCUMENTS_SCHEMA), and write
span-encoded documents back out as BioPAX RDF/XML.

Reference parity: the reference parses BioPAX L3 OWL with paxtools
(BioPaxtoGO.java:226-228 `io.convertFromOWL`) inside a per-file
directory loop (Biopax2GOCmdLine.java:219-234). Here the same front
door is a DISTRIBUTED scan: `spark.read.format("binaryFile")` over the
*.owl directory (one task per file — S2's partitioned scan), then an
Arrow-batched mapInPandas parse (`xml.etree` per document, vectorized
per batch, never per-row Python UDF) emitting the (doc_id, spans)
rows every downstream operator already consumes. One OWL file = one
model = one document row, exactly the reference's file->model mapping.

Vocabulary mapping (class/property names are the real BioPAX L3 OWL
terms paxtools reads; see the reference fixtures under
exchange/src/test/resources/biopax/):

  span kind          BioPAX class
  ----------------   -------------------------------------------------
  pathway            bp:Pathway (+bp:pathwayComponent, a mesh
                     D004194 RelationshipXref marks a disease pathway —
                     the isDisease gate of BioPaxtoGO.java's disease
                     check; other mesh xrefs do not)
  reaction           bp:BiochemicalReaction (bp:conversionDirection,
                     bp:eCNumber, bp:left/bp:right; GO
                     UnificationXref = direct GO typing [A12 skos
                     exactMatch], GO RelationshipXref = BP-process
                     linkage [A23])
  degradation        bp:Degradation
  template_reaction  bp:TemplateReaction (bp:product)
  interaction        bp:MolecularInteraction (bp:participant)
  step               bp:BiochemicalPathwayStep (bp:stepConversion,
                     bp:nextStep, bp:stepDirection)
  control            bp:Catalysis / bp:Control (bp:controller,
                     bp:controlled, bp:controlType); the Reactome
                     active-unit hack travels as a bp:comment
                     "activeUnit: #X" on the Catalysis — precisely
                     the comment format BioPaxtoGO.java:2111-2133
                     scrapes
  protein            bp:Protein -> bp:entityReference ->
                     bp:ProteinReference (+UnificationXref uniprot /
                     sgd, RelationshipXref for drug ids [A25]),
                     bp:cellularLocation ->
                     bp:CellularLocationVocabulary, bp:feature ->
                     bp:ModificationFeature / bp:FragmentFeature,
                     bp:organism -> bp:BioSource (taxonomy xref)
  small_molecule     bp:SmallMolecule -> bp:SmallMoleculeReference
                     (chebi UnificationXref; chebi role
                     RelationshipXref)
  complex            bp:Complex (bp:component +
                     bp:componentStoichiometry -> bp:Stoichiometry)
  entity_set         bp:PhysicalEntity with bp:memberPhysicalEntity
  dna / rna          bp:Dna / bp:Rna (-> bp:DnaReference /
                     bp:RnaReference, ensembl xref)
  comment            top-level rdf:Description with bp:comment (free
                     prose: contributor lines etc.)
  media              p2g:Media (p2g:mediaRef + p2g:caption) — the
                     interleaved text+media contract's sidecar; real
                     BioPAX carries no media, so this is an explicit
                     extension namespace, ignored by paxtools

Shared objects (entity references, location/modification
vocabularies, bio sources) are INTERNED exactly as real exports do:
written inline (nested) at first use, referenced by rdf:resource
afterwards; the parser resolves both forms through an rdf:about index.

Round-trip fidelity: the top-level element order IS the span order,
and span offsets are recomputed with the same cumulative rule the
corpus generator uses, so parse(write(docs)) == docs byte-for-byte —
including the span-sequence invariant (kind, text, media_ref, order).
One fidelity hint, `p2g:attrOrder`, records each record span's
original attribute key order (and presence of empty-valued keys like
`nextStepIds=`); the parser never reads semantic VALUES from it —
every value comes from the BioPAX properties — and falls back to
document-order reconstruction when it is absent (foreign files).

Scale shape: parsing is embarrassingly parallel (one file per task;
binaryFile splits per file). A single multi-GB OWL mega-model parses
in one task and is bounded by that executor's memory — route such
models through ingest()'s chunk-parallel span path AFTER the one-time
parse, the same mega-document defense the span scan uses.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from xml.sax.saxutils import escape, quoteattr

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pathways2go_spark.ingest import DOCUMENTS_SCHEMA

BP = "http://www.biopax.org/release/biopax-level3.owl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
P2G = "urn:p2g-extension#"
XMLNS = (
    f'xmlns:rdf={quoteattr(RDF)} xmlns:bp={quoteattr(BP)} '
    f'xmlns:p2g={quoteattr(P2G)}'
)
_BASE_PFX = "urn:p2g:"

# disease-pathway marker xref (the reference detects disease pathways
# via pathway xrefs; one fixed mesh relationship xref encodes the flag)
_DISEASE_DB, _DISEASE_ID = "mesh", "D004194"

_Q = {
    "about": f"{{{RDF}}}about",
    "ID": f"{{{RDF}}}ID",
    "resource": f"{{{RDF}}}resource",
    "datatype": f"{{{RDF}}}datatype",
    "attrOrder": f"{{{P2G}}}attrOrder",
}


def _tag(el: ET.Element) -> str:
    return el.tag.rsplit("}", 1)[-1]


def _ns(el: ET.Element) -> str:
    return el.tag.split("}", 1)[0].lstrip("{") if "}" in el.tag else ""


# ======================================================================
# writer: span dicts -> RDF/XML string
# ======================================================================


class _Xml:
    """Tiny ordered XML builder (attr order is significant here — the
    document order of property children encodes the span attr order)."""

    def __init__(self) -> None:
        self.parts: list[str] = []

    def open(self, tag: str, **attrs: str) -> None:
        a = "".join(f" {k.replace('_', ':', 1)}={quoteattr(v)}" for k, v in attrs.items())
        self.parts.append(f"<{tag}{a}>")

    def close(self, tag: str) -> None:
        self.parts.append(f"</{tag}>")

    def leaf(self, tag: str, text: str | None = None, **attrs: str) -> None:
        a = "".join(f" {k.replace('_', ':', 1)}={quoteattr(v)}" for k, v in attrs.items())
        if text is None:
            self.parts.append(f"<{tag}{a}/>")
        else:
            self.parts.append(f"<{tag}{a}>{escape(text)}</{tag}>")


def _attr_pairs(text: str) -> list[tuple[str, str]]:
    """span text 'k=v;k2=v2' -> ordered pairs (str_to_map semantics)."""
    out = []
    for part in text.split(";"):
        if not part:
            continue
        k, _, v = part.partition("=")
        out.append((k, v))
    return out


class _Interner:
    """First use -> inline nested object; later uses -> rdf:resource."""

    def __init__(self, x: _Xml) -> None:
        self.x = x
        self.seen: dict[tuple, str] = {}

    def ref_or(self, key: tuple, about: str, build) -> None:
        """Emit either rdf:resource to the interned object or build it
        inline (build(about) writes the nested element)."""
        if key in self.seen:
            self.x.leaf(self._prop, rdf_resource=f"#{self.seen[key]}")
        else:
            self.seen[key] = about
            self.x.open(self._prop)
            build(about)
            self.x.close(self._prop)

    def prop(self, name: str) -> "_Interner":
        self._prop = name
        return self


def _xref(x: _Xml, cls: str, about: str, db: str, xid: str) -> None:
    x.open(f"bp:{cls}", rdf_about=f"#{about}")
    x.leaf("bp:db", db)
    x.leaf("bp:id", xid)
    x.close(f"bp:{cls}")


def _go_token_to_curie(tok: str) -> str:
    # internal GO_90008 / CHEBI_15377 tokens <-> curie GO:90008 form
    return tok.replace("_", ":", 1)


def _curie_to_go_token(curie: str) -> str:
    return curie.replace(":", "_", 1)


def spans_to_rdfxml(doc_id: str, spans: list[dict]) -> str:
    """One document (ordered span dicts) -> one BioPAX L3 RDF/XML file."""
    x = _Xml()
    x.parts.append('<?xml version="1.0" encoding="UTF-8"?>')
    x.parts.append(
        f'<rdf:RDF {XMLNS} xml:base={quoteattr(_BASE_PFX + doc_id)}>'
    )
    it = _Interner(x)
    n_anon = 0

    def ref_list(prop: str, csv: str) -> None:
        for v in csv.split(","):
            if v:
                x.leaf(prop, rdf_resource=f"#{v}")

    def location(owner: str, term: str) -> None:
        it.prop("bp:cellularLocation").ref_or(
            ("loc", term), f"loc_{term}",
            lambda about: (
                x.open("bp:CellularLocationVocabulary", rdf_about=f"#{about}"),
                x.leaf("bp:term", term),
                x.close("bp:CellularLocationVocabulary"),
            ),
        )

    def entity_reference(cls: str, xrefs) -> None:
        """xrefs: list of (xref_cls, db, id). Both the intern key and
        the rdf:about id derive from the FULL xref set (class+db+id):
        a uniprot-only reference and a uniprot+sgd reference, or a
        chebi UnificationXref and a chebi RelationshipXref with the
        same id, are distinct resources with distinct ids."""
        key = (cls,) + tuple(xrefs)
        about = "ref_" + "_".join(
            f"{'r' if xc == 'RelationshipXref' else 'u'}_{db}_{xid}"
            .replace(":", "_").replace(" ", "_")
            for xc, db, xid in xrefs
        )

        def build(a: str) -> None:
            x.open(f"bp:{cls}", rdf_about=f"#{a}")
            for i, (xc, db, xid) in enumerate(xrefs):
                x.open("bp:xref")
                _xref(x, xc, f"{a}_x{i}", db, xid)
                x.close("bp:xref")
            x.close(f"bp:{cls}")

        it.prop("bp:entityReference").ref_or(key, about, build)

    def organism(taxon: str) -> None:
        tid = taxon.split("_", 1)[-1]
        def build(a: str) -> None:
            x.open("bp:BioSource", rdf_about=f"#{a}")
            x.open("bp:xref")
            _xref(x, "UnificationXref", f"{a}_x", "taxonomy", tid)
            x.close("bp:xref")
            x.close("bp:BioSource")
        it.prop("bp:organism").ref_or(("taxon", taxon), f"taxon_{tid}", build)

    def features(owner: str, csv: str) -> None:
        for j, feat in enumerate(f for f in csv.split(",") if f):
            parts = feat.split(":")
            x.open("bp:feature")
            if parts[0] == "mod":
                _, term, b, e = parts
                fa = f"{owner}_f{j}"
                x.open("bp:ModificationFeature", rdf_about=f"#{fa}")
                x.open("bp:modificationType")
                x.open("bp:SequenceModificationVocabulary", rdf_about=f"#{fa}_t")
                x.leaf("bp:term", term)
                x.close("bp:SequenceModificationVocabulary")
                x.close("bp:modificationType")
                _interval(x, f"{fa}_loc", b, e)
                x.close("bp:ModificationFeature")
            else:  # frag:begin:end
                _, b, e = parts
                fa = f"{owner}_f{j}"
                x.open("bp:FragmentFeature", rdf_about=f"#{fa}")
                _interval(x, f"{fa}_loc", b, e)
                x.close("bp:FragmentFeature")
            x.close("bp:feature")

    def _interval(x: _Xml, about: str, b: str, e: str) -> None:
        x.open("bp:featureLocation")
        x.open("bp:SequenceInterval", rdf_about=f"#{about}")
        x.open("bp:sequenceIntervalBegin")
        x.open("bp:SequenceSite", rdf_about=f"#{about}_b")
        x.leaf("bp:sequencePosition", b)
        x.close("bp:SequenceSite")
        x.close("bp:sequenceIntervalBegin")
        x.open("bp:sequenceIntervalEnd")
        x.open("bp:SequenceSite", rdf_about=f"#{about}_e")
        x.leaf("bp:sequencePosition", e)
        x.close("bp:SequenceSite")
        x.close("bp:sequenceIntervalEnd")
        x.close("bp:SequenceInterval")
        x.close("bp:featureLocation")

    for si, span in enumerate(spans):
        kind, text = span["kind"], span["text"]
        if kind == "media":
            n_anon += 1
            x.open("p2g:Media", rdf_about=f"#media_{n_anon}")
            x.leaf("p2g:mediaRef", span["media_ref"] or "")
            x.leaf("p2g:caption", text)
            x.close("p2g:Media")
            continue
        if kind == "comment":
            n_anon += 1
            x.open("rdf:Description", rdf_about=f"#note_{n_anon}")
            x.leaf("bp:comment", text)
            x.close("rdf:Description")
            continue

        pairs = _attr_pairs(text)
        attrs = dict(pairs)
        order = ",".join(k for k, _ in pairs)
        eid = attrs.get("id", f"{doc_id}#{si}")

        def open_rec(tag: str) -> None:
            x.open(tag, rdf_about=f"#{eid}", p2g_attrOrder=order)

        if kind == "pathway":
            open_rec("bp:Pathway")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            if attrs.get("isDisease") == "1":
                x.open("bp:xref")
                _xref(x, "RelationshipXref", f"{eid}_dz", _DISEASE_DB, _DISEASE_ID)
                x.close("bp:xref")
            if attrs.get("parentId"):
                x.leaf("p2g:parentPathway", rdf_resource=f"#{attrs['parentId']}")
            ref_list("bp:pathwayComponent", attrs.get("components", ""))
            if attrs.get("goXref"):
                x.open("bp:xref")
                _xref(x, "UnificationXref", f"{eid}_go", "go",
                      _go_token_to_curie(attrs["goXref"]))
                x.close("bp:xref")
            x.close("bp:Pathway")
        elif kind in ("reaction", "degradation"):
            tag = "bp:BiochemicalReaction" if kind == "reaction" else "bp:Degradation"
            open_rec(tag)
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            if attrs.get("direction"):
                x.leaf("bp:conversionDirection", attrs["direction"])
            for ec in attrs.get("ecNumbers", "").split(","):
                if ec:
                    x.leaf("bp:eCNumber", ec)
            if attrs.get("bpXref"):
                x.open("bp:xref")
                _xref(x, "RelationshipXref", f"{eid}_bp", "go",
                      _go_token_to_curie(attrs["bpXref"]))
                x.close("bp:xref")
            if attrs.get("goXref"):
                x.open("bp:xref")
                _xref(x, "UnificationXref", f"{eid}_go", "go",
                      _go_token_to_curie(attrs["goXref"]))
                x.close("bp:xref")
            ref_list("bp:left", attrs.get("left", ""))
            ref_list("bp:right", attrs.get("right", ""))
            x.close(tag)
        elif kind == "template_reaction":
            open_rec("bp:TemplateReaction")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            ref_list("bp:product", attrs.get("products", ""))
            if attrs.get("bpXref"):
                x.open("bp:xref")
                _xref(x, "RelationshipXref", f"{eid}_bp", "go",
                      _go_token_to_curie(attrs["bpXref"]))
                x.close("bp:xref")
            x.close("bp:TemplateReaction")
        elif kind == "interaction":
            open_rec("bp:MolecularInteraction")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            ref_list("bp:participant", attrs.get("participants", ""))
            x.close("bp:MolecularInteraction")
        elif kind == "step":
            open_rec("bp:BiochemicalPathwayStep")
            if attrs.get("reactionId"):
                x.leaf("bp:stepConversion", rdf_resource=f"#{attrs['reactionId']}")
            ref_list("bp:nextStep", attrs.get("nextStepIds", ""))
            if attrs.get("stepDirection"):
                x.leaf("bp:stepDirection", attrs["stepDirection"])
            x.close("bp:BiochemicalPathwayStep")
        elif kind == "control":
            ctype = attrs.get("type", "")
            tag = "bp:Catalysis" if ctype == "CATALYSIS" else "bp:Control"
            open_rec(tag)
            x.leaf("bp:controlType",
                   "ACTIVATION" if ctype == "CATALYSIS" else ctype)
            if attrs.get("controllerId"):
                x.leaf("bp:controller", rdf_resource=f"#{attrs['controllerId']}")
            if attrs.get("controlledId"):
                x.leaf("bp:controlled", rdf_resource=f"#{attrs['controlledId']}")
            if attrs.get("activeUnitRef"):
                # the Reactome hack, verbatim (BioPaxtoGO.java:2111-2133)
                x.leaf("bp:comment", f"activeUnit: #{attrs['activeUnitRef']}")
            x.close(tag)
        elif kind == "protein":
            open_rec("bp:Protein")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            xr = []
            if attrs.get("uniprot"):
                xr.append(("UnificationXref", "uniprot", attrs["uniprot"]))
            if attrs.get("accession"):
                xr.append(("UnificationXref", "sgd", attrs["accession"]))
            if xr:
                entity_reference("ProteinReference", xr)
            if attrs.get("drugXref"):
                db, _, xid = attrs["drugXref"].partition(":")
                x.open("bp:xref")
                _xref(x, "RelationshipXref", f"{eid}_drug", db, xid)
                x.close("bp:xref")
            if attrs.get("location"):
                location(eid, attrs["location"])
            if attrs.get("features"):
                features(eid, attrs["features"])
            if attrs.get("taxon"):
                organism(attrs["taxon"])
            x.close("bp:Protein")
        elif kind == "small_molecule":
            open_rec("bp:SmallMolecule")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            xr = []
            if attrs.get("chebi"):
                xr.append(("UnificationXref", "chebi",
                           _go_token_to_curie(attrs["chebi"])))
            if attrs.get("chebiRole"):
                xr.append(("RelationshipXref", "chebi",
                           _go_token_to_curie(attrs["chebiRole"])))
            if xr:
                entity_reference("SmallMoleculeReference", xr)
            if attrs.get("location"):
                location(eid, attrs["location"])
            x.close("bp:SmallMolecule")
        elif kind == "complex":
            open_rec("bp:Complex")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            for ci, comp in enumerate(c for c in attrs.get("components", "").split(",") if c):
                cid, _, coeff = comp.partition(":")
                x.leaf("bp:component", rdf_resource=f"#{cid}")
                if coeff:
                    x.open("bp:componentStoichiometry")
                    x.open("bp:Stoichiometry", rdf_about=f"#{eid}_s{ci}")
                    x.leaf("bp:physicalEntity", rdf_resource=f"#{cid}")
                    x.leaf("bp:stoichiometricCoefficient", coeff)
                    x.close("bp:Stoichiometry")
                    x.close("bp:componentStoichiometry")
            x.close("bp:Complex")
        elif kind == "entity_set":
            open_rec("bp:PhysicalEntity")
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            ref_list("bp:memberPhysicalEntity", attrs.get("members", ""))
            x.close("bp:PhysicalEntity")
        elif kind in ("dna", "rna"):
            tag = "bp:Dna" if kind == "dna" else "bp:Rna"
            open_rec(tag)
            if "displayName" in attrs:
                x.leaf("bp:displayName", attrs["displayName"])
            if attrs.get("ensembl"):
                entity_reference(
                    "DnaReference" if kind == "dna" else "RnaReference",
                    [("UnificationXref", "ensembl", attrs["ensembl"])],
                )
            x.close(tag)
        else:
            # unknown record kind: carry the raw attr text as a comment
            open_rec("bp:UtilityClass")
            x.leaf("bp:comment", text)
            x.close("bp:UtilityClass")
    x.parts.append("</rdf:RDF>")
    return "\n".join(x.parts)


# ======================================================================
# parser: RDF/XML -> span dicts
# ======================================================================


_ACTIVE_UNIT_RE = re.compile(r"^activeUnit:\s*#(\S+)$")

# real-export xref database-name variants (Reactome writes "UniProt",
# "ChEBI", "GENE ONTOLOGY", "NCBI Taxonomy"; MetaCyc writes others) ->
# the canonical keys the span attrs use
_DB_CANON = {
    "uniprot": "uniprot", "uniprotkb": "uniprot",
    "uniprot knowledgebase": "uniprot", "uniprot isoform": "uniprot",
    "chebi": "chebi",
    "go": "go", "gene ontology": "go",
    "taxonomy": "taxonomy", "ncbi taxonomy": "taxonomy",
    "sgd": "sgd", "saccharomyces genome database": "sgd",
    "ensembl": "ensembl", "mesh": "mesh",
}


def _canon_db(db: str) -> str:
    return _DB_CANON.get((db or "").strip().lower(), (db or "").strip().lower())


def _el_id(el: ET.Element) -> str:
    """Element identity: rdf:about (fragment-relative '#X' or absolute
    'http://...#X' — reduced to the fragment, matching how _frag
    resolves rdf:resource refs) or rdf:ID (bare form real Reactome
    exports use)."""
    about = el.get(_Q["about"])
    if about:
        return _frag(about)
    return el.get(_Q["ID"]) or ""


def _index_about(root: ET.Element) -> dict[str, ET.Element]:
    idx = {}
    for el in root.iter():
        eid = _el_id(el)
        if eid:
            idx[eid] = el
    return idx


def _frag(ref: str) -> str:
    """'#X' / 'http://...#X' / 'X' -> 'X' (resource refs in real
    exports are fragment-relative; absolute IRIs keep their fragment)."""
    return ref.rsplit("#", 1)[-1] if "#" in ref else ref


def _deref(el: ET.Element, idx: dict[str, ET.Element]) -> ET.Element | None:
    """Property element -> its object: nested child or resolved resource."""
    res = el.get(_Q["resource"])
    if res is not None:
        return idx.get(_frag(res))
    for child in el:
        return child
    return None


def _res_id(el: ET.Element) -> str:
    return _frag(el.get(_Q["resource"]) or "")


def _obj_id(el: ET.Element, idx: dict[str, ET.Element]) -> str:
    res = el.get(_Q["resource"])
    if res is not None:
        return _frag(res)
    for child in el:
        return _el_id(child)
    return ""


def _xref_of(el: ET.Element, idx: dict[str, ET.Element]) -> tuple[str, str, str]:
    """bp:xref property -> (xref_class, canonical db, id)."""
    obj = _deref(el, idx)
    if obj is None:
        return "", "", ""
    db = xid = ""
    for c in obj:
        t = _tag(c)
        if t == "db":
            db = c.text or ""
        elif t == "id":
            xid = c.text or ""
    return _tag(obj), _canon_db(db), xid


def _feature_str(el: ET.Element, idx: dict[str, ET.Element]) -> str:
    obj = _deref(el, idx)
    if obj is None:
        return ""
    term = b = e = ""
    for c in obj:
        t = _tag(c)
        if t == "modificationType":
            voc = _deref(c, idx)
            if voc is not None:
                for v in voc:
                    if _tag(v) == "term":
                        term = v.text or ""
        elif t == "featureLocation":
            ival = _deref(c, idx)
            if ival is not None:
                for s in ival:
                    site = _deref(s, idx)
                    pos = ""
                    if site is not None:
                        for p in site:
                            if _tag(p) == "sequencePosition":
                                pos = p.text or ""
                    if _tag(s) == "sequenceIntervalBegin":
                        b = pos
                    elif _tag(s) == "sequenceIntervalEnd":
                        e = pos
    if _tag(obj) == "ModificationFeature":
        return f"mod:{term}:{b}:{e}"
    return f"frag:{b}:{e}"


def _vocab_term(el: ET.Element, idx: dict[str, ET.Element]) -> str:
    obj = _deref(el, idx)
    if obj is None:
        return ""
    for c in obj:
        if _tag(c) == "term":
            return c.text or ""
    return ""


_KIND_OF_TAG = {
    "Pathway": "pathway",
    "BiochemicalReaction": "reaction",
    "Degradation": "degradation",
    "TemplateReaction": "template_reaction",
    "MolecularInteraction": "interaction",
    "BiochemicalPathwayStep": "step",
    "PathwayStep": "step",
    "Catalysis": "control",
    "Control": "control",
    "Modulation": "control",
    "Protein": "protein",
    "SmallMolecule": "small_molecule",
    "Complex": "complex",
    "PhysicalEntity": "entity_set",
    "Dna": "dna",
    "Rna": "rna",
    # real-export Conversion subclasses (Reactome emits these; the
    # reference's paxtools model handles them as Conversions)
    "ComplexAssembly": "reaction",
    "Transport": "reaction",
    "TransportWithBiochemicalReaction": "reaction",
    "Conversion": "reaction",
    "TemplateReactionRegulation": "control",
}

_CONVERSION_TAGS = {
    "BiochemicalReaction", "Degradation", "TemplateReaction",
    "ComplexAssembly", "Transport", "TransportWithBiochemicalReaction",
    "Conversion", "MolecularInteraction",
}

# xref databases that mark a drug entity (A25; everything else a real
# export hangs on an entity — Reactome DB ids, PubMed — is skipped)
_DRUG_DBS = {"iuphar", "guide to pharmacology", "guidetopharmacology"}

# csv-valued attr keys (repeated properties aggregate, in document order)
_CSV_KEYS = {
    "components", "left", "right", "products", "participants",
    "nextStepIds", "members", "ecNumbers", "features",
}


def _parse_record(
    el: ET.Element, idx: dict[str, ET.Element]
) -> tuple[str, str, list[str]]:
    """One top-level BioPAX element -> (kind, span text, free comments).

    Free comments are the element's bp:comment children that are NOT
    the activeUnit hack — real exports hang contributor lines
    ('Authored: ...') on the owning element; the caller re-emits them
    as standalone comment spans so parse_doc_meta sees them."""
    tag = _tag(el)
    kind = _KIND_OF_TAG[tag]
    eid = _el_id(el)
    comments: list[str] = []
    # ordered (key, value) accumulation; repeated keys extend the csv
    pairs: list[tuple[str, str]] = [("id", eid)]
    vals: dict[str, list[str]] = {"id": [eid]}
    is_disease = False
    # a Stoichiometry right after a bp:component of its entity belongs
    # to that occurrence (the writer's layout: 'A,A:2' stays in place);
    # any other one joins a per-entity QUEUE consumed in occurrence order
    # (foreign files) — last-wins collapsing would corrupt repeated ids
    at_comp: dict[int, str] = {}
    stoich: dict[str, list[str]] = {}

    def put(key: str, val: str) -> None:
        if key in vals:
            vals[key].append(val)
        else:
            vals[key] = [val]
            pairs.append((key, ""))

    t = ""
    for c in el:
        prev_t, t = t, _tag(c)
        if t == "displayName":
            put("displayName", c.text or "")
        elif t == "conversionDirection":
            put("direction", c.text or "")
        elif t == "eCNumber":
            put("ecNumbers", c.text or "")
        elif t == "pathwayComponent":
            put("components", _res_id(c))
        elif t == "parentPathway":
            put("parentId", _res_id(c))
        elif t == "left":
            put("left", _res_id(c))
        elif t == "right":
            put("right", _res_id(c))
        elif t == "product":
            put("products", _res_id(c))
        elif t == "participant":
            put("participants", _res_id(c))
        elif t == "stepConversion":
            put("reactionId", _obj_id(c, idx))
        elif t == "stepProcess":
            # real exports list BOTH the Conversion and its Catalysis as
            # stepProcess; only the Conversion is the step's reaction
            obj = _deref(c, idx)
            if obj is not None and _tag(obj) in _CONVERSION_TAGS:
                put("reactionId", _obj_id(c, idx))
        elif t == "nextStep":
            put("nextStepIds", _res_id(c))
        elif t == "stepDirection":
            put("stepDirection", c.text or "")
        elif t == "controller":
            put("controllerId", _obj_id(c, idx))
        elif t == "controlled":
            put("controlledId", _obj_id(c, idx))
        elif t == "controlType":
            if tag != "Catalysis":
                put("type", c.text or "")
        elif t == "memberPhysicalEntity":
            put("members", _res_id(c))
        elif t == "component":
            put("components", _res_id(c))
        elif t == "componentStoichiometry":
            obj = _deref(c, idx)
            if obj is not None:
                pe = coeff = ""
                for s in obj:
                    if _tag(s) == "physicalEntity":
                        pe = _res_id(s)
                    elif _tag(s) == "stoichiometricCoefficient":
                        coeff = s.text or ""
                comps = vals.get("components", [])
                if pe and prev_t == "component" and comps[-1] == pe:
                    at_comp[len(comps) - 1] = coeff
                elif pe:
                    stoich.setdefault(pe, []).append(coeff)
        elif t == "cellularLocation":
            put("location", _vocab_term(c, idx))
        elif t == "feature":
            put("features", _feature_str(c, idx))
        elif t == "organism":
            obj = _deref(c, idx)
            if obj is not None:
                for s in obj:
                    if _tag(s) == "xref":
                        _, db, xid = _xref_of(s, idx)
                        if db == "taxonomy":
                            put("taxon", f"NCBITaxon_{xid}")
        elif t == "entityReference":
            obj = _deref(c, idx)
            if obj is not None:
                for s in obj:
                    if _tag(s) != "xref":
                        continue
                    xc, db, xid = _xref_of(s, idx)
                    if db == "uniprot":
                        put("uniprot", xid)
                    elif db == "sgd":
                        put("accession", xid)
                    elif db == "chebi" and xc == "UnificationXref":
                        put("chebi", _curie_to_go_token(xid))
                    elif db == "chebi":
                        put("chebiRole", _curie_to_go_token(xid))
                    elif db == "ensembl":
                        put("ensembl", xid)
        elif t == "xref":
            xc, db, xid = _xref_of(c, idx)
            if db == _DISEASE_DB and xid == _DISEASE_ID:
                is_disease = True
            elif db == "go" and xc == "UnificationXref":
                put("goXref", _curie_to_go_token(xid))
            elif db == "go":
                put("bpXref", _curie_to_go_token(xid))
            elif db in _DRUG_DBS:
                put("drugXref", f"{db.upper()}:{xid}")
            # other xrefs (publication refs, provider DB ids) are noise
        elif t == "comment":
            m = _ACTIVE_UNIT_RE.match(c.text or "")
            if m and kind == "control":
                put("activeUnitRef", m.group(1))
            elif m is None and (c.text or "").strip():
                comments.append(c.text)

    if tag == "Catalysis":
        # class itself IS the control type (controlType child is the
        # implied ACTIVATION real exports carry)
        pairs.insert(1, ("type", ""))
        vals["type"] = ["CATALYSIS"]
    if kind == "pathway":
        # always materialize the flag, right after displayName — the
        # corpus generator's fixed position for it
        at = 2 if "displayName" in vals else 1
        pairs.insert(at, ("isDisease", ""))
        vals["isDisease"] = ["1" if is_disease else "0"]

    def val_of(key: str) -> str:
        vv = vals.get(key, [""])
        if key == "components" and (at_comp or stoich):
            vv = [
                f"{v}:{at_comp[i]}" if i in at_comp
                else f"{v}:{stoich[v].pop(0)}" if stoich.get(v) else v
                for i, v in enumerate(vv)
            ]
        return ",".join(vv) if key in _CSV_KEYS else vv[0]

    # attr order: the fidelity hint when present (it also restores
    # empty-valued keys); else document order of recognized properties
    hint = el.get(_Q["attrOrder"])
    if hint is not None:
        keys = [k for k in hint.split(",") if k]
        text = ";".join(
            f"{k}={val_of(k) if k in vals else ''}" for k in keys
        )
    else:
        text = ";".join(f"{k}={val_of(k)}" for k, _ in pairs)
    # set detection (checkForAndAddSet, PhysicalEntityOntologyBuilder):
    # ANY physical entity carrying memberPhysicalEntity is a set,
    # whatever class the export typed it as (Reactome types sets as
    # bp:Protein / bp:SmallMolecule)
    if "members" in vals and kind in (
        "protein", "small_molecule", "complex", "entity_set", "dna", "rna"
    ):
        kind = "entity_set"
    return kind, text, comments


def rdfxml_to_spans(xml: str | bytes, doc_id: str | None = None) -> tuple[str, list[dict]]:
    """One BioPAX RDF/XML file -> (doc_id, ordered span dicts).

    Top-level element order is the span order; offsets are recomputed
    with the generator's cumulative rule (off += len(text) + 1)."""
    root = ET.fromstring(xml)
    base = root.get("{http://www.w3.org/XML/1998/namespace}base") or ""
    if doc_id is None:
        doc_id = base[len(_BASE_PFX):] if base.startswith(_BASE_PFX) else base
    idx = _index_about(root)
    spans: list[dict] = []
    off = 0

    def push(kind: str, text: str, media_ref: str = "") -> None:
        nonlocal off
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": off}
        )
        off += len(text) + 1

    for el in root:
        tag, ns = _tag(el), _ns(el)
        if ns == P2G and tag == "Media":
            ref = caption = ""
            for c in el:
                if _tag(c) == "mediaRef":
                    ref = c.text or ""
                elif _tag(c) == "caption":
                    caption = c.text or ""
            push("media", caption, ref)
        elif tag == "Description":
            for c in el:
                if _tag(c) == "comment":
                    push("comment", c.text or "")
        elif ns == BP and tag in _KIND_OF_TAG:
            kind, text, comments = _parse_record(el, idx)
            push(kind, text)
            for cm in comments:
                push("comment", cm)
        # any other element (interned objects never appear top-level,
        # foreign Provenance/Ontology headers etc.) is skipped
    return doc_id, spans


# ======================================================================
# DataFrame surfaces
# ======================================================================

_XML_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("xml", T.StringType()),
    ]
)


def write_rdfxml(documents: DataFrame) -> DataFrame:
    """documents (doc_id, spans) -> (doc_id, xml): Arrow-batched
    serialization, one BioPAX RDF/XML string per document."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "xml": [
                        spans_to_rdfxml(d, list(s))
                        for d, s in zip(pdf["doc_id"], pdf["spans"])
                    ],
                }
            )

    return documents.mapInPandas(batches, schema=_XML_SCHEMA)


def parse_rdfxml(xml_df: DataFrame, permissive: bool = False) -> DataFrame:
    """(doc_id, xml) -> documents (doc_id, spans): the distributed
    BioPAX parse (S1 front door for real OWL input).

    permissive: a malformed file yields a row with NULL spans instead
    of failing its task — at 10^12-document scale one corrupt upload
    must not kill the job. NULL (not empty) so the quarantine set is
    queryable (`spans IS NULL`); explode_spans drops such rows
    naturally (posexplode of NULL emits nothing). Default strict, the
    correctness-testing mode."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, spans = [], []
            for d, x in zip(pdf["doc_id"], pdf["xml"]):
                try:
                    did, sp = rdfxml_to_spans(x, doc_id=d if d else None)
                except ET.ParseError:
                    if not permissive:
                        raise
                    did, sp = d, None
                ids.append(did)
                spans.append(sp)
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return xml_df.mapInPandas(batches, schema=DOCUMENTS_SCHEMA)


def read_rdfxml(
    spark: SparkSession,
    path: str,
    glob: str = "*.owl",
    permissive: bool = False,
) -> DataFrame:
    """Directory of BioPAX OWL files -> documents DataFrame. The S2
    partitioned scan: binaryFile source, one task per file (the
    reference's per-file loop, Biopax2GOCmdLine.java:219-234, made
    distributed). doc_id = file stem unless the file carries the
    urn:p2g xml:base. permissive: see parse_rdfxml."""
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.regexp_extract(
                F.col("path"), r"([^/]+?)(?:\.owl)?$", 1
            ).alias("doc_id"),
            # keep raw BYTES: ET.fromstring(bytes) honors the XML
            # declaration's encoding (a cast to string would force
            # UTF-8 and silently mojibake ISO-8859-1 real exports)
            F.col("content").alias("xml"),
        )
    )
    return parse_rdfxml(bin_df, permissive=permissive)


def write_rdfxml_files(documents: DataFrame, out_dir: str) -> int:
    """Materialize one .owl file per document under out_dir (executor-
    side writes; local/shared filesystem). Returns the file count."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    xml = write_rdfxml(documents).localCheckpoint(eager=True)

    def write_part(rows) -> None:
        for row in rows:
            # explicit utf-8: the XML declaration promises it, and the
            # executor's locale codec must not decide the bytes
            with open(
                os.path.join(out_dir, f"{row['doc_id']}.owl"),
                "w",
                encoding="utf-8",
            ) as f:
                f.write(row["xml"])

    xml.foreachPartition(write_part)
    # count what THIS call wrote (a driver-side listdir would include
    # stale files and, on a multi-node cluster, miss executor-local
    # writes); the checkpoint above keeps the serialize single-run
    return xml.count()
