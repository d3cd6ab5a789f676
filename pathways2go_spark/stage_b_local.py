"""Stage B, per-model fast path: all rules in ONE applyInPandas pass.

The reference applies its SPARQL rules per named graph (per pathway model,
GoCAM.applySparqlRules GoCAM.java:974-999) — the rule workload is
embarrassingly parallel across models. The distributed DataFrame rules in
stage_b.py express each rule as global self-joins (~25 shuffles end to
end); for the common case — per-model triple sets bounded far below
executor memory — this module runs the identical rule sequence inside a
single `groupBy(model_id).cogroup(...).applyInPandas` (ONE shuffle, Arrow
batches, no per-row Python on the Spark side).

Routing (pipeline.run_pipeline): of the models from documents routed to
distributed stage A, those whose stage-A triple count exceeds
`local_threshold` run the distributed rules instead — the skew defense for
mega-models. Both paths implement the same semantics; tests assert
identical output.

Ontology dims are handed over as plain dict/set closures (bounded
dictionaries — the same data stage_b.py broadcasts).

Audit side-output rows (B6 DELETING_NON_SMALL_MOL_REGULATOR,
GoCAM.java:1737) are emitted in-band with pred='__audit__' and split out
by the caller.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from . import vocab as V

AUDIT_PRED = "__audit__"

_IO_PREDS = (V.HAS_INPUT, V.HAS_OUTPUT, V.ENABLED_BY, V.OCCURS_IN)
_REL_FWD = (V.HAS_INPUT, V.HAS_OUTPUT, V.ENABLED_BY)
_REG_PREDS = (V.INV_POS_REG, V.INV_NEG_REG)


@dataclass
class LocalDims:
    """Broadcastable plain-python views of the ontology dims."""

    chem_classes: frozenset        # classes with CHEMICAL_ROOT ancestor
    nuc_classes: frozenset         # classes with NUCLEIC_ACID ancestor
    mf_classes: frozenset          # classes with MF_ROOT ancestor
    part_to_complex: dict          # enabler type -> {complex classes whose
                                   # tbox parts include a subclass of it}


def build_local_dims(ancestors_pdf: pd.DataFrame, complex_parts_pdf: pd.DataFrame) -> LocalDims:
    """ancestors: (class_iri, ancestor_iri); complex_parts:
    (complex_class, part_class). Precomputes the B4-case-2 index
    (part->complex with subclass expansion, QRunner.java:950-1102)."""
    by_anc: dict[str, set] = {}
    anc_of: dict[str, set] = {}
    for cls, anc in zip(ancestors_pdf["class_iri"], ancestors_pdf["ancestor_iri"]):
        by_anc.setdefault(anc, set()).add(cls)
        anc_of.setdefault(cls, set()).add(anc)
    part_complexes: dict[str, set] = {}
    for cx, part in zip(
        complex_parts_pdf["complex_class"], complex_parts_pdf["part_class"]
    ):
        part_complexes.setdefault(part, set()).add(cx)
    # et -> complexes containing any subclass-of-et part
    p2c: dict[str, set] = {}
    for part, cxs in part_complexes.items():
        for et in anc_of.get(part, {part}):
            p2c.setdefault(et, set()).update(cxs)
    return LocalDims(
        chem_classes=frozenset(by_anc.get(V.CHEMICAL_ROOT, set())),
        nuc_classes=frozenset(by_anc.get(V.NUCLEIC_ACID, set())),
        mf_classes=frozenset(by_anc.get(V.MF_ROOT, set())),
        part_to_complex=p2c,
    )


class _Graph:
    """One model's triple set as key-indexed python structures (groups are
    bounded: per-pathway graphs, reference converts them in a 24G heap
    one at a time — ours are orders of magnitude below `local_threshold`)."""

    def __init__(self, rows) -> None:
        # rows: iterable of (subj, pred, obj, evidence, rule), keys may
        # repeat; (subj, pred, obj) -> min (evidence, rule) — the fused
        # path's only stage-A dedup
        self.t: dict[tuple, tuple] = {}
        for s, p, o, e, r in rows:
            k = (s, p, o)
            cur = self.t.get(k)
            if cur is None or (e, r) < cur:
                self.t[k] = (e, r)

    def rows(self, pred=None):
        if pred is None:
            return [k for k in self.t]
        if isinstance(pred, str):
            pred = (pred,)
        return [k for k in self.t if k[1] in pred]

    def add(self, s, p, o, rule):
        k = (s, p, o)
        cur = self.t.get(k)
        nv = (V.ECO_INFERRED, rule)
        if cur is None or nv < cur:
            self.t[k] = nv if cur is None else min(cur, nv)

    def delete(self, keys):
        for k in keys:
            self.t.pop(k, None)

    def delete_nodes(self, nodes: set):
        if not nodes:
            return
        self.delete([k for k in self.t if k[0] in nodes or k[2] in nodes])


def _same_pathway_causal(g: _Graph):
    part_of = _multimap_from(g, V.PART_OF)
    out = []
    for r1, _, r2 in g.rows(V.CAUSALLY_UPSTREAM):
        if r1 == r2:
            continue
        shared = part_of.get(r1, set()) & part_of.get(r2, set())
        for p in shared:
            out.append((r1, r2, p))
    return out


def _multimap_from(g: _Graph, pred) -> dict:
    out: dict = {}
    for s, _, o in g.rows(pred):
        out.setdefault(s, set()).add(o)
    return out


def _inverse_multimap_from(g: _Graph, pred) -> dict:
    out: dict = {}
    for s, _, o in g.rows(pred):
        out.setdefault(o, set()).add(s)
    return out


def apply_rules_local(
    pdf: pd.DataFrame, drug_reactions: set, dims: LocalDims
) -> pd.DataFrame:
    """pandas adapter over `apply_rules_rows` for the cogroup path."""
    rows = apply_rules_rows(
        pdf["model_id"].iloc[0],
        zip(pdf["subj"], pdf["pred"], pdf["obj"], pdf["evidence"], pdf["rule"]),
        drug_reactions,
        dims,
    )
    return pd.DataFrame(
        rows, columns=["model_id", "subj", "pred", "obj", "evidence", "rule"]
    )


def apply_rules_rows(
    model_id: str, triple_rows, drug_reactions: set, dims: LocalDims
) -> list[tuple]:
    """B10, B1..B9, B11 in reference order over one model's triples —
    pure-python rows in, rows out (no per-model pandas: the fused per-doc
    path calls this directly, so DataFrames exist only at Arrow batch
    boundaries). Mirrors stage_b.py rule for rule (see its file:line
    cites)."""
    g = _Graph(triple_rows)
    audits: list[tuple] = []

    # ---- B10 drug-reaction removal (GoCAM.java:2009-2075) ----
    if drug_reactions:
        doomed = set(drug_reactions)
        for s, p, o in g.rows(_IO_PREDS):
            if s in drug_reactions:
                doomed.add(o)
        g.delete_nodes(doomed)

    # ---- B1 MF from enablers (GoCAM.java:1001-1025) ----
    enabled = {s for s, _, _ in g.rows(V.ENABLED_BY)}
    hits = [
        (s, p, o)
        for s, p, o in g.rows(V.TYPE)
        if o == V.MOLECULAR_EVENT and s in enabled
    ]
    g.delete(hits)
    for s, _, _ in hits:
        g.add(s, V.TYPE, V.MF_ROOT, "B1")

    # ---- B2 occurs_in from entity locations (GoCAM.java:1178-1234) ----
    loc_edge = _multimap_from(g, V.LOCATED_IN)
    types = _multimap_from(g, V.TYPE)
    rel_ent: dict[str, list] = {}
    for s, p, o in g.rows(_REL_FWD):
        rel_ent.setdefault(s, []).append((p, o))
    for s, p, o in g.rows(_REG_PREDS):
        rel_ent.setdefault(o, []).append((p, s))
    for rxn, pairs in rel_ent.items():
        enabler_locs, all_locs = set(), set()
        for rel, ent in pairs:
            for ln in loc_edge.get(ent, ()):  # located_in loc nodes
                for lt in types.get(ln, ()):
                    if lt == V.CC_ROOT:
                        continue
                    all_locs.add(lt)
                    if rel == V.ENABLED_BY:
                        enabler_locs.add(lt)
        loc = None
        if len(enabler_locs) == 1:
            loc = next(iter(enabler_locs))
        elif not enabler_locs and len(all_locs) == 1:
            loc = next(iter(all_locs))
        if loc is not None:
            node = f"{rxn}~oc~{loc}"
            g.add(rxn, V.OCCURS_IN, node, "B2")
            g.add(node, V.TYPE, loc, "B2")

    # ---- B3 regulates-via-output-regulates (GoCAM.java:1250-1296) ----
    causal = _same_pathway_causal(g)
    exact = _multimap_from(g, V.EXACT)
    # ref -> reactions outputting an instance with that exactMatch
    out_by_ref: dict[str, set] = {}
    for r1, _, o in g.rows(V.HAS_OUTPUT):
        for ref in exact.get(o, ()):
            out_by_ref.setdefault(ref, set()).add(r1)
    part_parents = _inverse_multimap_from(g, V.HAS_PART)  # z -> complexes
    regs = [(s, p, o) for s, p, o in g.rows(_REG_PREDS)]
    causal_pairs: dict[tuple, set] = {}
    for r1, r2, p in causal:
        causal_pairs.setdefault((r1, r2), set()).add(p)
    b3_adds, b3_dels = [], []
    for z, prop, r2 in regs:
        zrefs = set(exact.get(z, ()))
        for cx in part_parents.get(z, ()):
            zrefs |= exact.get(cx, set())
        for ref in zrefs:
            for r1 in out_by_ref.get(ref, ()):
                for pathway in causal_pairs.get((r1, r2), ()):
                    binding = f"{r1}~bind~{z}"
                    rp = (
                        V.DIRECTLY_POS_REGULATES
                        if prop == V.INV_POS_REG
                        else V.DIRECTLY_NEG_REGULATES
                    )
                    b3_adds += [
                        (binding, V.TYPE, V.BINDING),
                        (binding, V.HAS_INPUT, z),
                        (binding, V.PART_OF, pathway),
                        (r1, V.PROVIDES_INPUT, binding),
                        (binding, rp, r2),
                    ]
                    b3_dels += [
                        (z, prop, r2),
                        (r1, V.CAUSALLY_UPSTREAM, r2),
                    ]
    g.delete(b3_dels)
    for s, p, o in b3_adds:
        g.add(s, p, o, "B3")

    # ---- B4 + B5 on one shared snapshot (GoCAM.java:1343-1545, stale-
    # snapshot discipline per comment :1504-1506) ----
    causal = _same_pathway_causal(g)
    types = _multimap_from(g, V.TYPE)
    exact = _multimap_from(g, V.EXACT)
    outs = _multimap_from(g, V.HAS_OUTPUT)   # r1 -> output nodes
    ins = _multimap_from(g, V.HAS_INPUT)     # r2 -> input nodes
    enables = _multimap_from(g, V.ENABLED_BY)  # r2 -> enabler nodes
    b4_hits, b5_matched, b5_adds = set(), set(), set()
    for r1, r2, _ in causal:
        out_types = {t for o in outs.get(r1, ()) for t in types.get(o, ())}
        en_types = {t for e in enables.get(r2, ()) for t in types.get(e, ())}
        # case 1: direct type match; case 2: tbox part->complex index
        if out_types & en_types or any(
            dims.part_to_complex.get(et, frozenset()) & out_types
            for et in en_types
        ):
            b4_hits.add((r1, r2))
        # B5 (same snapshot): r1 output exactMatch == r2 input exactMatch
        for o in outs.get(r1, ()):
            orefs = exact.get(o, set())
            if not orefs:
                continue
            for i in ins.get(r2, ()):
                if orefs & exact.get(i, set()):
                    b5_matched.add((r1, r2))
                    ot = types.get(o, set())
                    if i != o and not (ot & set(V.DO_NOT_JOIN)):
                        b5_adds.add((r1, r2))
    g.delete(
        [(r1, V.CAUSALLY_UPSTREAM, r2) for r1, r2 in b4_hits | b5_matched]
        + [(r1, V.PROVIDES_INPUT, r2) for r1, r2 in b4_hits]
    )
    for r1, r2 in b4_hits:
        g.add(r1, V.DIRECTLY_POS_REGULATES, r2, "B4")
    for r1, r2 in b5_adds:
        g.add(r1, V.PROVIDES_INPUT, r2, "B5")

    # ---- B6 small-molecule regulators (GoCAM.java:1667-1747) ----
    types = _multimap_from(g, V.TYPE)
    sm_adds, sm_dels, doomed_regs = [], [], set()
    for z, prop, r in g.rows(_REG_PREDS):
        ztypes = types.get(z, set())
        if not ztypes:
            continue  # stage_b inner-joins regs with typed z: untyped pass through
        is_chem = bool(ztypes & dims.chem_classes)
        is_nuc = bool(ztypes & dims.nuc_classes)
        if is_chem and not is_nuc:
            pred = V.SM_ACTIVATOR if prop == V.INV_POS_REG else V.SM_INHIBITOR
            sm_adds.append((r, pred, z))
            sm_dels.append((z, prop, r))
        else:
            doomed_regs.add(z)
            audits.append((r, min(ztypes) if ztypes else ""))
    g.delete(sm_dels)
    for s, p, o in sm_adds:
        g.add(s, p, o, "B6")
    g.delete_nodes(doomed_regs)

    # ---- B7 delete complexes with active units (GoCAM.java:1749-1757) ----
    used = {o for _, _, o in g.rows((V.HAS_INPUT, V.ENABLED_BY))}
    g.delete_nodes(
        {cx for cx, _, x in g.rows(V.HAS_PART) if x in used}
    )

    # ---- B8 delete disallowed relations (GoCAM.java:1759-1783) ----
    g.delete_nodes({o for _, _, o in g.rows(V.LOCATED_IN)})
    g.delete(g.rows((V.LOCATED_IN,) + _REG_PREDS))

    # ---- B9 unconnected-node cleanup (GoCAM.java:1974-2007) ----
    edge_preds = set(V.EDGE_PREDS)
    connected = set()
    for s, p, o in g.rows():
        if p in edge_preds:
            connected.add(s)
            connected.add(o)
    orphans = {
        s for s, p, _ in g.rows((V.TYPE, V.EXACT)) if s not in connected
    }
    g.delete_nodes(orphans)

    # ---- B11 empty-model gate (BioPaxtoGO.java:588-599) ----
    has_activity = any(
        o == V.MOLECULAR_EVENT or o in dims.mf_classes
        for _, p, o in g.rows(V.TYPE)
    )
    if not has_activity:
        g.t.clear()  # audits kept: reference logs during rules, before gate

    return [
        (model_id, s, p, o, e, r) for (s, p, o), (e, r) in g.t.items()
    ] + [
        (model_id, rxn, AUDIT_PRED, detail, "", "DELETING_NON_SMALL_MOL_REGULATOR")
        for rxn, detail in sorted(set(audits))
    ]
